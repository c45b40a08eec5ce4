#!/usr/bin/env python
"""End-to-end epoch cost vs store size: a FIXED delta batch against
growing nodes/edges/walks stores, two ways per size:

- `pruned` (the round-3 engine): every per-epoch store lookup —
  author join, admission exact-verify, target resolution,
  old-adjacency fetch, repair's visits probe — reads the committed
  snapshot PARTITION-PRUNED to the batch's buckets
  (engine._pruned_table). Epoch cost must track |batch buckets|,
  not |store|.
- `full`: the same engine with `_pruned_table` monkeypatched to
  return the in-memory table — every lookup streams the full table,
  the round-2 shape.

Setup is untimed: it assigns all nine engine tables and every
counter itself (a ring+chord store with edges and walks already in
place, which bootstrap's seed-url cold start does not build) and
makes the full first commit. The timed region is exactly one
process_pages + partial commit.

Usage: python benchmarks/epoch_scale.py [--out PATH] [--cpus N]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_engine(spark, path: str, n_nodes: int, now):
    import pyspark.sql.functions as F

    from crawler_spark import frontier as frontier_mod
    from crawler_spark import seen, walks_gen
    from crawler_spark.engine import CrawlEngine

    eng = CrawlEngine(
        spark, path, walks_per_node=4, n_buckets=256, batch_size=10, seed=1,
    )
    eng.n_table_buckets = 256
    eng.nodes = spark.range(n_nodes).select(
        F.col("id").alias("node_id"),
        F.concat(
            F.lit("https://node"), F.col("id").cast("string"), F.lit(".test/")
        ).alias("url"),
        F.lit("active").alias("status"),
        F.lit(now).cast("timestamp").alias("added_ts"),
        F.lit(None).cast("timestamp").alias("promoted_ts"),
        F.lit(None).cast("timestamp").alias("demoted_ts"),
    )
    # ring + one chord per node
    eng.edges = (
        spark.range(n_nodes)
        .select(
            F.col("id").alias("src"),
            F.explode(
                F.array(
                    (F.col("id") + 1) % n_nodes,
                    (F.col("id") + 7) % n_nodes,
                )
            ).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    eng.n_edges = eng.edges.count()
    eng.walks = walks_gen.generate_walks(
        spark,
        eng.edges,
        eng.nodes.select("node_id"),
        walks_per_node=4,
        seed=1,
        strategy="broadcast",
    )
    eng.visits = walks_gen.visits_of(eng.walks)
    eng.frontier = frontier_mod.enqueue(
        None, eng.nodes.select("url", "node_id"), now
    )
    eng.filters = seen.build_seen_filters(
        eng.nodes.select("url"), n_buckets=eng.n_buckets
    )
    eng.next_walk_id = walks_gen.next_walk_id(eng.walks)
    eng.total_visits = walks_gen.total_visits(eng.walks)
    eng.next_node_id = n_nodes
    # what bootstrap() does: commit the (empty) dedup-state tables so
    # the timed epoch measures the steady-state PARTIAL commit path,
    # not a first-time full write
    from crawler_spark import engine as _em

    for name in _em._DEDUP_TABLES:
        eng._start_empty(name)
    eng._commit(now, {"event": "setup"})
    return eng


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=None)
    ap.add_argument("--cpus", type=int, default=16)
    ap.add_argument(
        "--sizes", default="20000,80000,320000",
        help="comma-separated node counts",
    )
    args = ap.parse_args()

    import datetime as dt

    from crawler_spark import datagen, engine as engine_mod
    from crawler_spark.session import get_spark

    spark = get_spark(
        "epoch-scale", master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")
    now = dt.datetime(2025, 6, 1, tzinfo=dt.timezone.utc)

    # the FIXED delta batch: 5 authors re-crawled, each page links two
    # known neighbors plus one brand-new url (5 mints per epoch)
    def batch(n_nodes):
        follows = {
            a: [(a + 1) % n_nodes, (a + 9) % n_nodes, n_nodes + 10 + a]
            for a in range(5)
        }
        return datagen.pages_df(spark, follows)

    results = []
    orig_pruned = engine_mod.CrawlEngine._pruned_table
    for n_nodes in [int(s) for s in args.sizes.split(",")]:
        for mode in ("pruned", "full"):
            work = tempfile.mkdtemp(prefix=f"epoch{n_nodes}{mode}")
            try:
                engine_mod.CrawlEngine._pruned_table = (
                    orig_pruned
                    if mode == "pruned"
                    else (lambda self, name, buckets: getattr(self, name))
                )
                eng = build_engine(spark, work + "/cat", n_nodes, now)
                pages = batch(n_nodes)
                pages.count()  # materialize the input outside the timing
                # job count = all-job id delta across the timed region
                # (the commit runs table writes on a thread pool, so
                # job-group tagging would miss them)
                tracker = spark.sparkContext.statusTracker()
                jid0 = max(tracker.getJobIdsForGroup(None), default=-1)
                t0 = time.time()
                eng.epoch += 1
                s = eng.process_pages(pages, now)
                eng._commit(now, s)
                sec = time.time() - t0
                n_jobs = (
                    max(tracker.getJobIdsForGroup(None), default=-1) - jid0
                )
                results.append(
                    {
                        "n_nodes": n_nodes,
                        "n_walks": 4 * n_nodes,
                        "mode": mode,
                        "seconds": round(sec, 3),
                        "spark_jobs": n_jobs,
                        "new_nodes": s["new_nodes"],
                        "deltas": s["deltas"],
                    }
                )
                print(results[-1], file=sys.stderr)
            finally:
                engine_mod.CrawlEngine._pruned_table = orig_pruned
                shutil.rmtree(work, ignore_errors=True)

    by = {
        m: {r["n_nodes"]: r["seconds"] for r in results if r["mode"] == m}
        for m in ("pruned", "full")
    }
    sizes = sorted(by["pruned"])
    out = {
        "delta": "5 authors, 2 known links + 1 new url each",
        "runs": results,
        "store_growth": round(sizes[-1] / sizes[0], 1),
        "time_growth_pruned": round(
            by["pruned"][sizes[-1]] / by["pruned"][sizes[0]], 2
        ),
        "time_growth_full": round(
            by["full"][sizes[-1]] / by["full"][sizes[0]], 2
        ),
    }
    line = json.dumps(out)
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
