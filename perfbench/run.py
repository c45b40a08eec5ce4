#!/usr/bin/env python3
"""Crawl-and-rank benchmark: crawl epochs, rank reads and restarts of
`CrawlEngine`, driven only through its public API from one driver
process on local[nproc].

    python3 perfbench/run.py --workload crawl-delta --seed 1 --seconds 10 --trace 0

Runs from any working directory. The last stdout line is one JSON
object {"correct", "attempted", "failed", "metrics"}: with --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics. The lines before it print every
metric by name with its unit, the host facts, and the per-epoch stats
and Spark job counts that the traced/untraced parity check compares.

Each run builds its own input from --seed, its own store through the
engine's write path, measures, then checks the outputs (see `check`).
Everything it writes goes under perfbench/_work/ and is removed at
exit. See perfbench/README.md for the workloads and metric mapping.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

# Sizes for a 4-core host with ~0.1-0.3 s of fixed cost per Spark job:
# the first epoch after bootstrap is ~145 jobs whatever its batch, so a
# run holds one timed epoch and the whole run stays near a minute.
# Bucket counts are sized to the store: the 64-bucket defaults add
# ~60-task write stages to every commit at this scale.
WORKLOADS = {
    # small batch: per-action fixed cost sets the epoch time (the
    # reference's continuous crawl queries batches of 50)
    "crawl-delta": dict(
        n_pages=20_000, seeds=400, batch=200,
        tick_seconds=60.0,
    ),
    # re-crawl/backfill: one large batch, so extraction, admission,
    # repair and dedup do real data work
    "crawl-bulk": dict(
        n_pages=30_000, seeds=800, batch=800,
        tick_seconds=3600.0,
    ),
}
TINY = dict(n_pages=2_000, seeds=300, batch=100)

WALKS_PER_NODE = 10
BUCKETS = 4
NEARDUP_SHARE = 0.10
AVG_DEGREE = 12
TOPK = 100
TOPK_READS = 7
# the PPR walk budget grows with top_k^0.85 (rank.required_length); at
# the default 200 one query is ~15 s of driver-side stitching here
PPR_TOPK = 20
SETUP_REPEATS = 3
EPOCH_STEP = dt.timedelta(hours=2)  # > the arbiter's promotion wait
T0 = dt.datetime(2025, 6, 1, tzinfo=dt.timezone.utc)


def _env_before_spark(work: str) -> None:
    """Python workers import crawler_spark and perfbench too: put both
    on PYTHONPATH before the JVM (which spawns them) starts, so the
    benchmark runs from any working directory."""
    paths = [ROOT, BENCH_DIR] + [
        p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p
    ]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    for p in (BENCH_DIR, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")


def host_facts() -> dict:
    def steal() -> int:
        with open("/proc/stat") as f:
            cpu = f.readline().split()
        return int(cpu[8]) if len(cpu) > 8 else 0

    return {"loadavg": list(os.getloadavg()), "steal_ticks": steal()}


def git_head() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def _tree() -> list[int]:
    """This process and its live descendants: the driver JVM and the
    Python workers."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so
    far by this process tree. The kernel charges stolen time to no
    task, so unlike wall time this does not grow when the hypervisor
    deschedules the VM."""
    total = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_peak_rss_mb() -> float:
    """Sum of peak RSS (VmHWM) over this process tree."""
    total_kb = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def make_engine(spark, root, cfg, seed):
    from crawler_spark.engine import CrawlEngine

    eng = CrawlEngine(
        spark, root, walks_per_node=WALKS_PER_NODE, n_buckets=BUCKETS,
        seed=seed, batch_size=cfg["batch"], tick_seconds=cfg["tick_seconds"],
    )
    eng.n_table_buckets = BUCKETS
    return eng


def job_counter(spark):
    """Ids of Spark jobs are sequential: the next id, read before and
    after an epoch, counts its jobs whatever job group or thread ran
    them, with tracing on or off."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    return lambda: int(dag.nextJobId())


def check(live, fresh) -> dict[str, bool]:
    """Output checks on the committed store after the timed region."""
    from pyspark.sql import functions as F

    from crawler_spark import rank

    res = {}
    w = live.walks.agg(
        F.sum(
            F.when(
                (F.size("path") == 0)
                | (F.element_at("path", 1) != F.col("start_id")),
                1,
            ).otherwise(0)
        ).alias("bad"),
        F.count("*").alias("n"),
    ).first()
    res["walks_start_at_start_id"] = (w["bad"] or 0) == 0 and w["n"] > 0
    n = live.nodes.agg(
        F.count("*").alias("n"),
        F.countDistinct("url").alias("urls"),
        F.countDistinct("node_id").alias("ids"),
        F.min("node_id").alias("lo"),
        F.max("node_id").alias("hi"),
    ).first()
    res["node_urls_unique_ids_dense"] = (
        n["n"] == n["urls"] == n["ids"] == live.next_node_id
        and n["lo"] == 0 and n["hi"] == live.next_node_id - 1
    )
    # maintained index (live) vs walk store re-derivation vs a freshly
    # resumed engine, in one join
    maintained = live.pagerank().withColumnRenamed("rank", "r_live")
    derived = rank.global_pagerank(fresh.walks, nodes=fresh.nodes)
    resumed = fresh.pagerank().withColumnRenamed("rank", "r_fresh")
    j = (
        maintained.join(derived.withColumnRenamed("rank", "r_derived"), "node_id", "full")
        .join(resumed, "node_id", "full")
        .agg(
            F.max(F.abs(F.col("r_live") - F.col("r_derived"))).alias("d_derived"),
            F.max(F.abs(F.col("r_live") - F.col("r_fresh"))).alias("d_fresh"),
            F.sum(F.when(F.col("r_live").isNull() | F.col("r_derived").isNull()
                         | F.col("r_fresh").isNull(), 1).otherwise(0)).alias("missing"),
            F.sum("r_live").alias("total"),
        )
        .first()
    )
    res["pagerank_equals_rederived"] = j["missing"] == 0 and (j["d_derived"] or 0) < 1e-12
    res["ranks_sum_to_1"] = abs((j["total"] or 0) - 1.0) < 1e-9
    res["resumed_reads_same_pagerank"] = j["missing"] == 0 and (j["d_fresh"] or 0) < 1e-12
    return res


def epoch_ok(stats: dict) -> bool:
    """An idle stage is a workload to fix, not a pass."""
    return all(
        stats.get(k, 0) > 0
        for k in ("pages", "new_nodes", "deltas", "walks_updated")
    )


def read_probe(spark, live, fresh, seed) -> dict:
    """Closed-loop rank reads, traced run only: `TOPK_READS` global
    top-k reads, then two identical single-source top-`PPR_TOPK` PPR
    queries from a source with out-links."""
    from pyspark.sql import functions as F

    from crawler_spark import ppr, rank

    topk = []
    for _ in range(TOPK_READS):
        t = time.perf_counter()
        rows = rank.top_k(live.pagerank(), TOPK).collect()
        topk.append(time.perf_counter() - t)
    srcs = [
        r["src"]
        for r in fresh.edges.select("src").distinct().orderBy("src").limit(16).collect()
    ]
    src = srcs[seed % len(srcs)]
    walls, answers = [], []
    for _ in range(2):
        t = time.perf_counter()
        out = ppr.personalized_pagerank(
            spark, fresh.edges, fresh.walks, src, top_k=PPR_TOPK, seed=seed
        )
        answers.append(sorted(tuple(r) for r in out.collect()))
        walls.append(time.perf_counter() - t)
    return {
        "topk_p50_s": (statistics.median(topk), len(topk)),
        "ppr_p50_s": (statistics.median(walls), len(walls)),
        "topk_ok": len(rows) == min(TOPK, live.next_node_id),
        "ppr_same": answers[0] == answers[1],
    }


def extract_probe(web, eng) -> float:
    """Standalone extract_links over the workload's fetched pages,
    run after the timed region: bounds what an extract rewrite can
    save."""
    from pyspark.sql import functions as F

    from crawler_spark.functions.extract import extract_links

    fetched = web.join(
        eng.frontier.filter(F.col("state") == "fetched").select("url"),
        "url", "left_semi",
    ).localCheckpoint(eager=True)
    t = time.perf_counter()
    r = fetched.agg(
        F.count("*").alias("n"),
        F.sum(F.size(extract_links("html", "url"))).alias("links"),
    ).first()
    return r["n"] / (time.perf_counter() - t)


# per-layer metrics: (name, unit, better). A span metric is
# <span>.<measure>: `calls` per timed epoch (per run for setup spans);
# wall_s, self_s, jobs, task_s per call (jobs and task_s include child
# spans). Setup spans are taken from the setup phase (bootstrap and
# the restarts), rank/ppr spans from the read phase, the rest from the
# timed epochs. The first epoch after bootstrap promotes no node, so
# walk generation is measured in bootstrap.
SPAN_METRICS = [
    ("engine.run_epoch", ("wall_s", "self_s", "jobs", "task_s")),
    ("engine.process_pages", ("wall_s", "self_s", "jobs", "task_s")),
    ("engine.maybe_arbiter", ("self_s", "jobs")),
    ("engine.bootstrap", ("wall_s", "jobs")),
    ("engine.resume", ("wall_s", "jobs")),
    ("engine.pagerank", ("wall_s",)),
    ("frontier.schedule_batch", ("wall_s",)),
    ("frontier.arbiter_decisions", ("wall_s",)),
    ("frontier.apply_arbiter", ("wall_s", "jobs")),
    ("seen.admit_new_urls", ("wall_s",)),
    ("seen.update_seen_filters", ("wall_s", "jobs")),
    ("graph.mint_node_ids", ("wall_s",)),
    ("graph.apply_deltas", ("wall_s",)),
    ("walks_update.update_walks", ("wall_s", "jobs", "task_s")),
    ("walks_gen.generate_walks", ("calls", "wall_s", "jobs")),
    ("catalog.write_partial", ("calls", "wall_s", "self_s", "jobs", "task_s")),
    ("catalog.write", ("calls",)),
    ("catalog.current", ("calls", "wall_s")),
    ("ops.dedup.minhash_signatures", ("wall_s",)),
    ("rank.global_pagerank", ("wall_s",)),
    ("rank.top_k", ("wall_s",)),
    ("ppr.personalized_pagerank", ("wall_s", "jobs")),
]
SPAN_PHASE = {
    "engine.bootstrap": "setup",
    "engine.resume": "setup",
    "walks_gen.generate_walks": "setup",
    "engine.pagerank": "reads",
    "rank.global_pagerank": "reads",
    "rank.top_k": "reads",
    "ppr.personalized_pagerank": "reads",
}
MEASURE_UNIT = {"calls": "count", "wall_s": "s", "self_s": "s", "jobs": "count",
                "task_s": "s"}
COUNT_METRICS = [
    ("extract.pages_per_s", "1/s", "higher"),
    ("walks_update.walks_updated", "count", "lower"),
    ("walks_update.walks_per_delta", "ratio", "lower"),
    ("walks_gen.walks_per_s", "1/s", "higher"),
    ("catalog.bytes_written", "bytes", "lower"),
    ("catalog.dirty_bucket_frac", "ratio", "lower"),
    ("dedup.docs", "count", "lower"),
    ("dedup.neardup_cands", "count", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.task_s", "s", "lower"),
    ("spark.shuffle_read_bytes", "bytes", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.core_busy_frac", "ratio", "higher"),
    ("read.topk_p50_s", "s", "lower"),
    ("read.ppr_p50_s", "s", "lower"),
    ("trace.wrapper_s", "s", "lower"),
]


def per_layer_names() -> list[tuple[str, str, str]]:
    out = [
        (f"{span}.{m}", MEASURE_UNIT[m], "lower")
        for span, measures in SPAN_METRICS
        for m in measures
    ]
    return out + COUNT_METRICS


def layer_metrics(spark, tracer, epochs, nproc, extract_pps, reads, n_seeds) -> dict:
    from spans import job_stages, self_time, stage_metrics

    spans = [s for s in tracer.spans if s.end is not None]
    children: dict = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)
    own_jobs = tracer.span_jobs()
    epoch_jobs = [j for e in epochs for j in range(*e["job_range"])]
    all_jobs = set(epoch_jobs)
    for js in own_jobs.values():
        all_jobs.update(js)
    stages_of = job_stages(spark, sorted(all_jobs))
    smet = stage_metrics(spark)

    def inclusive_jobs(s) -> list[int]:
        out = list(own_jobs.get(s.sid, []))
        for c in children.get(s.sid, []):
            out += inclusive_jobs(c)
        return out

    def cost(job_ids) -> dict:
        tot = {"task_s": 0.0, "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
               "stages": 0}
        for st in {st for j in job_ids for st in stages_of.get(j, [])}:
            m = smet.get(st)
            if m is None:  # skipped: its output was reused
                continue
            tot["stages"] += 1
            for k in ("task_s", "shuffle_read", "shuffle_write", "spill"):
                tot[k] += m[k]
        return tot

    n_ep = len(epochs)
    out = {}
    for span, measures in SPAN_METRICS:
        ph = SPAN_PHASE.get(span, "timed")
        mine = [s for s in spans if s.name == span and s.phase == ph]
        n = len(mine)
        for m in measures:
            if m == "calls":
                v = n if ph == "setup" else n / n_ep
            elif not n:
                v = 0.0
            elif m == "wall_s":
                v = sum(s.end - s.start for s in mine) / n
            elif m == "self_s":
                v = sum(self_time(s, children.get(s.sid, [])) for s in mine) / n
            elif m == "jobs":
                v = sum(len(set(inclusive_jobs(s))) for s in mine) / n
            else:  # task_s
                v = sum(cost(set(inclusive_jobs(s)))["task_s"] for s in mine) / n
            out[f"{span}.{m}"] = {"value": v, "unit": MEASURE_UNIT[m]}

    def stat_sum(key):
        return sum(e["stats"].get(key, 0) for e in epochs)

    timed = [s for s in spans if s.phase == "timed"]
    gen_wall = sum(s.end - s.start for s in spans
                   if s.phase == "setup" and s.name == "walks_gen.generate_walks")
    writes = [s.result_files for s in timed
              if s.name in ("catalog.write", "catalog.write_partial") and s.result_files]
    partial = [s.result_files for s in timed
               if s.name == "catalog.write_partial" and s.result_files]
    ep = cost(epoch_jobs)
    epoch_wall = sum(e["wall_s"] for e in epochs)
    counts = {
        "extract.pages_per_s": extract_pps,
        "walks_update.walks_updated": stat_sum("walks_updated") / n_ep,
        "walks_update.walks_per_delta": stat_sum("walks_updated") / max(stat_sum("deltas"), 1),
        "walks_gen.walks_per_s": n_seeds * WALKS_PER_NODE / gen_wall if gen_wall else 0.0,
        "catalog.bytes_written": sum(w[0] for w in writes) / n_ep,
        "catalog.dirty_bucket_frac": (sum(w[1] for w in partial)
                                      / max(sum(w[2] for w in partial), 1)),
        "dedup.docs": stat_sum("docs") / n_ep,
        "dedup.neardup_cands": stat_sum("neardup_cands") / n_ep,
        "spark.jobs": len(epoch_jobs) / n_ep,
        "spark.stages": ep["stages"] / n_ep,
        "spark.task_s": ep["task_s"] / n_ep,
        "spark.shuffle_read_bytes": ep["shuffle_read"] / n_ep,
        "spark.shuffle_write_bytes": ep["shuffle_write"] / n_ep,
        "spark.spill_bytes": ep["spill"] / n_ep,
        "spark.core_busy_frac": ep["task_s"] / (epoch_wall * nproc),
        "read.topk_p50_s": reads["topk_p50_s"][0],
        "read.ppr_p50_s": reads["ppr_p50_s"][0],
        "trace.wrapper_s": tracer.wrapper_s["timed"] / n_ep,
    }
    for name, unit, _ in COUNT_METRICS:
        out[name] = {"value": counts[name], "unit": unit}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smoke size: a 2k-page web, 100-page batches")
    args = ap.parse_args(argv)

    cfg = dict(WORKLOADS[args.workload])
    if args.tiny:
        cfg.update(TINY)
    work = os.path.join(BENCH_DIR, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        return run(args, cfg, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, cfg, work) -> int:
    _env_before_spark(work)
    facts = {"before": host_facts()}
    t_start = time.perf_counter()

    from crawler_spark.session import get_spark

    nproc = os.cpu_count() or 1
    conf = {
        "spark.ui.enabled": "true" if args.trace else "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.local.dir": os.path.join(work, "spark"),
        # C1 only: the JVM lives about a minute, and C2 compiler threads
        # would spend ~30 CPU-seconds of each epoch on code that runs
        # a few times
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:TieredStopAtLevel=1"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    spark = get_spark(
        "perfbench", master=f"local[{nproc}]", shuffle_partitions=2,
        extra_conf=conf,
    )
    sc = spark.sparkContext
    gateway_proc = getattr(sc._gateway, "proc", None)
    try:
        sc.setLogLevel("ERROR")
        return measure(args, cfg, work, spark, facts, t_start, nproc)
    finally:
        spark.stop()
        sc._gateway.shutdown()
        if gateway_proc is not None:
            if gateway_proc.stdin:
                gateway_proc.stdin.close()
            try:
                gateway_proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway_proc.kill()
                gateway_proc.wait()


def measure(args, cfg, work, spark, facts, t_start, nproc) -> int:
    import pyspark

    import pagegen
    from spans import Tracer

    jobs_now = job_counter(spark)
    web_gen = pagegen.Web(
        cfg["n_pages"], args.seed, cfg["seeds"], avg_degree=AVG_DEGREE,
        neardup_share=NEARDUP_SHARE,
    )
    web_path = os.path.join(work, "web.parquet")
    web_gen.write_parquet(web_path)
    web = spark.read.parquet(web_path)
    seeds = web_gen.seed_urls()

    tracer = None
    if args.trace:
        tracer = Tracer(spark)
        tracer.install()

    def phase(name):
        if tracer is not None:
            tracer.phase = name

    store = os.path.join(work, "store")
    now = T0
    live = make_engine(spark, store, cfg, args.seed)
    phase("setup")
    t, c = time.perf_counter(), tree_cpu_s()
    live.bootstrap(seeds, now)
    bootstrap_s = time.perf_counter() - t
    bootstrap_cpu = tree_cpu_s() - c

    # ---- timed region: epochs ----
    phase("timed")
    epochs = []
    t_timed = time.perf_counter()
    while True:
        now += EPOCH_STEP
        j0 = jobs_now()
        t, c = time.perf_counter(), tree_cpu_s()
        stats = live.run_epoch(web, now)
        wall = time.perf_counter() - t
        cpu = tree_cpu_s() - c
        j1 = jobs_now()
        epochs.append({"wall_s": wall, "cpu_s": cpu, "jobs": j1 - j0,
                       "job_range": [j0, j1], "stats": stats})
        if time.perf_counter() - t_timed >= args.seconds:
            break
    timed_wall = time.perf_counter() - t_timed

    # ---- setup: restart the engine from the committed store ----
    phase("setup")
    resumes = []
    for _ in range(SETUP_REPEATS):
        fresh = make_engine(spark, store, cfg, args.seed)
        t = time.perf_counter()
        fresh.resume()
        resumes.append(time.perf_counter() - t)
    phase(None)

    t = time.perf_counter()
    checks = check(live, fresh)
    check_s = time.perf_counter() - t

    reads = {}
    extract_pps = None
    if args.trace:
        phase("reads")
        reads = read_probe(spark, live, fresh, args.seed)
        checks["topk_rows"] = reads.pop("topk_ok")
        checks["ppr_repeat_identical"] = reads.pop("ppr_same")
        phase(None)
        extract_pps = extract_probe(web, live)

    attempted = len(epochs)
    failed = [epoch_ok(e["stats"]) for e in epochs].count(False)
    if not all(checks.values()):
        failed = attempted  # the store they produced is wrong
    pages = sum(e["stats"].get("pages", 0) for e in epochs)

    epoch_cpu = sum(e["cpu_s"] for e in epochs)
    # gated (BENCHMARK.json end_to_end): CPU seconds, which the host's
    # steal does not inflate, plus set-up time and memory
    e2e = {
        "setup_s": (statistics.median(resumes), "s"),
        "epoch_cpu_s": (statistics.median(e["cpu_s"] for e in epochs), "s"),
        "pages_per_cpu_s": (pages / epoch_cpu, "1/s"),
        "bootstrap_cpu_s": (bootstrap_cpu, "s"),
        "peak_rss_mb": (tree_peak_rss_mb(), "MB"),
    }
    # printed, not gated: on a shared VM, wall time swings with steal
    walls = {
        "epoch_s": (statistics.median(e["wall_s"] for e in epochs), "s"),
        "pages_per_s": (pages / timed_wall, "1/s"),
        "bootstrap_s": (bootstrap_s, "s"),
    }
    facts["after"] = host_facts()
    facts.update(
        nproc=nproc, seed=args.seed, workload=args.workload, git_head=git_head(),
        python=platform.python_version(), spark=pyspark.__version__,
        java=spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        series="4-core host series; not comparable with BENCH_r01-r05 (32-core)",
        input=dict(cfg, walks_per_node=WALKS_PER_NODE, buckets=BUCKETS,
                   neardup_share=NEARDUP_SHARE, avg_degree=AVG_DEGREE,
                   n_hosts=web_gen.n_hosts,
                   top_host_share=round(web_gen.top_host_share(), 4),
                   store_nodes=live.next_node_id),
        run_wall_s=round(time.perf_counter() - t_start, 1),
        check_s=round(check_s, 1),
    )
    print("host " + json.dumps(facts))
    print("epochs " + json.dumps(
        [{"jobs": e["jobs"], "stats": e["stats"]} for e in epochs]
    ))
    print("checks " + json.dumps(checks))
    print(f"{args.workload}: timed epochs={len(epochs)} "
          f"failed_frac={failed / attempted:.4f}")
    for name, (v, unit) in {**e2e, **walls}.items():
        print(f"{args.workload}: {name} = {v:.6g} {unit}")
    if reads:
        print(f"{args.workload}: read samples: topk n={reads['topk_p50_s'][1]}, "
              f"ppr n={reads['ppr_p50_s'][1]}")

    if args.trace:
        metrics = layer_metrics(spark, tracer, epochs, nproc, extract_pps, reads,
                                len(seeds))
        tracer.uninstall()
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    for name, m in metrics.items():
        if args.trace:
            print(f"{args.workload}: {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": all(checks.values()) and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
