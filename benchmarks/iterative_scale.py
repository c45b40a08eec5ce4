#!/usr/bin/env python
"""Walk generation and walk repair at BEYOND-BROADCAST scale (>30M edges).

SURVEY §8 / VERDICT r1 item 5: the 10^10-edge design point was never
exercised past 20k nodes. This harness builds a ~33M-edge web-shaped
graph (synth_edges: host-clustered ids, 80% intra-host links) and
measures the engine's at-scale walk kernel on it:

 - bucketed  : one walk per node with the host-locality cogroup —
   walks advance INSIDE their host bucket's adjacency shard until
   they follow an inter-host link (multiple walk-steps per shuffle),
 - broadcast : reference point only — at this size the CSR is
   ~0.5 GB; it still fits one local JVM but is the path the engine
   refuses above BROADCAST_EDGE_LIMIT on a real cluster
   (`--skip-broadcast` drops it, and with it the equality spot-check),
 - repair    : a 200-node delta (every other follow of each node
   removed, two new follows added) repaired over the bucketed walk
   store with update_walks(strategy="bucketed"), the engine's repair
   path above BROADCAST_EDGE_LIMIT; REPAIR_REPS repetitions.

Reported per generation strategy: wall seconds, walks/s, total shuffle
read+write bytes (Spark REST API deltas). Per repair repetition: wall
seconds, Spark job count, shuffle bytes, updated-walk count and an
order-free digest of the repaired store (equal digests = bit-identical
stores). A 5k-seed spot-check asserts broadcast and bucketed walks are
bit-identical at this scale (counter-RNG keying).

Usage:
  python benchmarks/iterative_scale.py [--nodes N] [--cpus C]
      [--skip-broadcast] [--out PATH]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

EDGES_PATH_TPL = "/tmp/spark_graft_iter_edges_{n}.parquet"
EDGES_AFTER_PATH_TPL = "/tmp/spark_graft_iter_edges_after_{n}.parquet"
DELTA_NODES = 200
REPAIR_REPS = 2


def shuffle_totals(spark) -> tuple[int, int]:
    """(read_bytes, write_bytes) summed over all completed stages."""
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    url = f"{base}/api/v1/applications/{app}/stages?status=complete"
    try:
        with urllib.request.urlopen(url, timeout=10) as r:
            stages = json.load(r)
    except Exception:
        return 0, 0
    return (
        sum(s.get("shuffleReadBytes", 0) for s in stages),
        sum(s.get("shuffleWriteBytes", 0) for s in stages),
    )


def last_job_id(spark) -> int:
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None), default=-1)


def repair_delta(spark, edges, n_nodes: int) -> list:
    """DELTA_NODES evenly spaced nodes: every other follow removed, two
    follows added from the next host block (ids n+256 on)."""
    from pyspark.sql import functions as F

    nodes = [i * (n_nodes // DELTA_NODES) for i in range(DELTA_NODES)]
    follows: dict[int, list[int]] = {n: [] for n in nodes}
    for r in edges.filter(F.col("src").isin(nodes)).collect():
        follows[r["src"]].append(r["dst"])
    deltas = []
    for n in nodes:
        f = sorted(follows[n])
        removed, common = f[::2], f[1::2]
        added = [
            x % n_nodes for x in range(n + 256, n + 512)
            if x % n_nodes not in f and x % n_nodes != n
        ][:2]
        deltas.append((n, removed, common, added))
    return deltas


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--nodes", type=int, default=3_200_000)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--out", default=None)
    ap.add_argument("--skip-broadcast", action="store_true")
    args = ap.parse_args()

    # synth_edges and the walk kernels run in Python workers that import
    # crawler_spark: put the repo root on PYTHONPATH before the JVM (which
    # spawns them) starts, so the script runs from any working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )

    from pyspark.sql import functions as F

    from crawler_spark import walks_gen, walks_update
    from crawler_spark.datagen import synth_edges
    from crawler_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    parts = args.cpus * 2
    spark = get_spark(
        "iter-scale",
        master=f"local[{args.cpus}]",
        shuffle_partitions=parts,
        extra_conf={
            "spark.sql.files.maxPartitionBytes": "64m",
            # the session default disables the UI; the REST API is the
            # shuffle-bytes source here
            "spark.ui.enabled": "true",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    edges_path = EDGES_PATH_TPL.format(n=args.nodes)  # per-size cache
    if not os.path.exists(edges_path):
        synth_edges(
            spark, args.nodes, avg_degree=10, locality=0.8,
            host_block=256, seed=42, partitions=parts,
        ).write.mode("overwrite").parquet(edges_path)
    edges = spark.read.parquet(edges_path)
    n_edges = edges.count()
    print(f"graph: {args.nodes} nodes, {n_edges} edges", file=sys.stderr)
    if args.nodes >= 3_000_000:
        assert (
            n_edges > walks_gen.BROADCAST_EDGE_LIMIT
        ), "not beyond-broadcast scale"

    starts = spark.range(0, args.nodes).select(F.col("id").alias("node_id"))
    results: dict[str, dict] = {}
    strategies = ["bucketed"]
    if not args.skip_broadcast:
        strategies.append("broadcast")
    store = None
    for strategy in strategies:
        r0, w0 = shuffle_totals(spark)
        t0 = time.perf_counter()
        walks = walks_gen.generate_walks(
            spark, edges, starts, walks_per_node=1, seed=42,
            strategy=strategy, partitions=parts,
        )
        n_walks = walks.count()
        dt = time.perf_counter() - t0
        r1, w1 = shuffle_totals(spark)
        if store is None:
            # bucketed output is a union of checkpointed blocks: the
            # repair rows below re-read it without regenerating
            store = walks
        results[strategy] = {
            "seconds": round(dt, 1),
            "n_walks": n_walks,
            "walks_per_sec": round(n_walks / dt, 1),
            "shuffle_read_mb": round((r1 - r0) / 1e6, 1),
            "shuffle_write_mb": round((w1 - w0) / 1e6, 1),
        }
        print(f"{strategy}: {results[strategy]}", file=sys.stderr)

    # repair: a fixed 200-node delta over the bucketed walk store
    deltas = repair_delta(spark, edges, args.nodes)
    edges_after_path = EDGES_AFTER_PATH_TPL.format(n=args.nodes)
    if not os.path.exists(edges_after_path):
        removed = spark.createDataFrame(
            [(n, d) for n, rm, _, _ in deltas for d in rm], "src long, dst long"
        )
        added = spark.createDataFrame(
            [(n, d) for n, _, _, ad in deltas for d in ad], "src long, dst long"
        )
        edges.join(removed, ["src", "dst"], "left_anti").unionByName(
            added
        ).write.mode("overwrite").parquet(edges_after_path)
    edges_after = spark.read.parquet(edges_after_path)
    repairs = []
    for _ in range(REPAIR_REPS):
        r0, w0 = shuffle_totals(spark)
        j0 = last_job_id(spark)
        t0 = time.perf_counter()
        repaired = walks_update.update_walks(
            spark, store, edges_after, deltas, seed=42, epoch=1,
            strategy="bucketed", partitions=parts,
        )
        row = repaired.agg(
            F.sum(F.col("updated").cast("long")).alias("updated"),
            F.count("*").alias("walks"),
            F.sum(F.xxhash64("walk_id", "path").cast("decimal(38,0)")).alias(
                "digest"
            ),
        ).first()
        dt = time.perf_counter() - t0
        r1, w1 = shuffle_totals(spark)
        repairs.append({
            "seconds": round(dt, 1),
            "spark_jobs": last_job_id(spark) - j0,
            "shuffle_read_mb": round((r1 - r0) / 1e6, 1),
            "shuffle_write_mb": round((w1 - w0) / 1e6, 1),
            "walks_updated": int(row["updated"]),
            "walks": int(row["walks"]),
            "digest": str(row["digest"]),
        })
        print(f"repair: {repairs[-1]}", file=sys.stderr)

    # equality spot-check at this scale: 5k seeds, broadcast vs bucketed
    equal = None
    if len(strategies) > 1:
        sub = spark.range(0, 5000).select((F.col("id") * 631).alias("node_id"))
        sets = []
        for strategy in strategies:
            w = walks_gen.generate_walks(
                spark, edges, sub, walks_per_node=1, seed=7,
                strategy=strategy, partitions=parts,
            )
            sets.append(sorted((r.walk_id, tuple(r.path)) for r in w.collect()))
        equal = all(s == sets[0] for s in sets[1:])
        print(f"equality spot-check (5k seeds): {equal}", file=sys.stderr)

    out = {
        "n_nodes": args.nodes,
        "n_edges": n_edges,
        "cpus": args.cpus,
        "locality": 0.8,
        "strategies": results,
        "repair": {
            "strategy": "bucketed",
            "delta_nodes": DELTA_NODES,
            "reps": repairs,
        },
        "equality_spot_check": equal,
    }
    line = json.dumps(out)
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
