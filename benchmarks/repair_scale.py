#!/usr/bin/env python
"""Index-selective walk repair: cost must track |affected walks|, not
|store| (VERDICT r1 #1). Times a FIXED small delta against growing
walk stores, two ways per store size:

- `scan`: the no-index fallback (map-side arrays_overlap selection
  over the store's paths) — near-flat wall time, but the selection
  READ is still O(store);
- `index`: the engine path (round 3) — a MAINTAINED (node_id,
  walk_id) visits table committed as bucket-partitioned parquet and
  read PRUNED to the delta nodes' buckets, exactly what
  CrawlEngine._pruned_table("visits", …) hands to update_walks. Selection cost
  tracks |affected| (the pruned partitions), not |store|.

Usage: python benchmarks/repair_scale.py [--out PATH]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=None)
    ap.add_argument("--cpus", type=int, default=32)
    args = ap.parse_args()

    from crawler_spark import datagen, walks_gen, walks_update
    from crawler_spark.session import get_spark

    spark = get_spark(
        "repair-scale", master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")

    # a 2000-node random graph; the delta touches ONE node
    f0 = datagen.random_graph(2000, 8, seed=17)
    node = 7
    removed = [f0[node][0]]
    added = [x for x in range(2000) if x not in f0[node] and x != node][:1]
    f1 = dict(f0)
    f1[node] = sorted((set(f0[node]) - set(removed)) | set(added))
    common = sorted(set(f0[node]) - set(removed))
    delta = (node, sorted(removed), common, sorted(added))
    edges1 = spark.createDataFrame(
        [(s, d) for s, ds in f1.items() for d in ds], "src long, dst long"
    ).localCheckpoint()
    starts = spark.createDataFrame([(i,) for i in sorted(f0)], "node_id long")
    edges0 = spark.createDataFrame(
        [(s, d) for s, ds in f0.items() for d in ds], "src long, dst long"
    )

    import shutil
    import tempfile

    from pyspark.sql import functions as F

    n_buckets = 64
    bucket = F.pmod(F.xxhash64(F.col("node_id").cast("long")), F.lit(n_buckets)).cast("int")
    delta_nodes = sorted({node, *removed, *added})
    tmp = tempfile.mkdtemp(prefix="repair_scale_visits_")

    results = []
    try:
        for wpn in (25, 100, 400):
            walks = walks_gen.generate_walks(
                spark, edges0, starts, walks_per_node=wpn, seed=17,
                strategy="broadcast",
            ).localCheckpoint()
            n_store = walks.count()
            # the maintained index, committed bucket-partitioned (what
            # the engine's catalog holds between epochs)
            vpath = os.path.join(tmp, f"visits_{wpn}")
            walks_gen.visits_of(walks).withColumn("bucket", bucket).write.mode(
                "overwrite"
            ).partitionBy("bucket").parquet(vpath)
            dbuckets = (
                spark.createDataFrame(
                    [(n,) for n in delta_nodes], "node_id long"
                )
                .select(bucket.alias("b"))
                .distinct()
                .collect()
            )
            pruned = (
                spark.read.parquet(vpath)
                .filter(F.col("bucket").isin([int(r["b"]) for r in dbuckets]))
                .select("node_id", "walk_id")
            )
            # warm-up absorbs codegen/broadcast latency
            walks_update.finish_update(
                walks_update.update_walks(
                    spark, walks, edges1, [delta], seed=17, epoch=1
                )
            ).count()
            row = {"store_walks": n_store}
            for label, vis in (("scan", None), ("index", pruned)):
                t0 = time.perf_counter()
                rep = walks_update.update_walks(
                    spark, walks, edges1, [delta], seed=17, epoch=2,
                    visits=vis,
                )
                n_up = walks_update.updated_count(rep)
                row[f"sec_{label}"] = round(time.perf_counter() - t0, 3)
                row["updated_walks"] = n_up
            results.append(row)
            print(
                f"store={n_store}: updated={row['updated_walks']} "
                f"scan={row['sec_scan']:.2f}s index={row['sec_index']:.2f}s",
                file=sys.stderr,
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    out = {
        "delta": "1 node, 1 removed + 1 added edge",
        "runs": results,
        "store_growth": round(
            results[-1]["store_walks"] / results[0]["store_walks"], 1
        ),
        "time_growth_scan": round(
            results[-1]["sec_scan"] / max(results[0]["sec_scan"], 1e-9), 2
        ),
        "time_growth_index": round(
            results[-1]["sec_index"] / max(results[0]["sec_index"], 1e-9), 2
        ),
    }
    line = json.dumps(out)
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
