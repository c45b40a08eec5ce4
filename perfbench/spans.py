"""Span tracing from outside the engine, for the benchmark's traced run.

`Tracer.install()` replaces the engine modules' public functions, at
module or class attribute level, with wrappers that record a span
(name, phase, start, end, parent) and tag the span's Spark jobs with a
job group of its own, set on entry and restored on exit. The engine
calls `seen.*`, `walks_update.*` and the rest through module
attributes, and `Catalog.write_partial` through the class, so the
wrappers see every call. Tagging by job group, not by counting job ids,
attributes the jobs of `CrawlEngine._commit`'s pool threads to the
catalog write that ran them.

Spans are kept in memory and turned into per-layer numbers at the end
of the run. A span's self time is its wall time minus the part of it
covered by its child spans. Spans whose thread has no open span (the
commit pool) take the main thread's innermost open span as parent.
"""

from __future__ import annotations

import functools
import json
import threading
import time
import urllib.request

# (module path, owner attribute or None, function, span name)
TRACED = [
    ("crawler_spark.engine", "CrawlEngine", "bootstrap", "engine.bootstrap"),
    ("crawler_spark.engine", "CrawlEngine", "resume", "engine.resume"),
    ("crawler_spark.engine", "CrawlEngine", "run_epoch", "engine.run_epoch"),
    ("crawler_spark.engine", "CrawlEngine", "process_pages", "engine.process_pages"),
    ("crawler_spark.engine", "CrawlEngine", "maybe_arbiter", "engine.maybe_arbiter"),
    ("crawler_spark.engine", "CrawlEngine", "pagerank", "engine.pagerank"),
    ("crawler_spark.frontier", None, "schedule_batch", "frontier.schedule_batch"),
    ("crawler_spark.frontier", None, "arbiter_decisions", "frontier.arbiter_decisions"),
    ("crawler_spark.frontier", None, "apply_arbiter", "frontier.apply_arbiter"),
    ("crawler_spark.seen", None, "admit_new_urls", "seen.admit_new_urls"),
    ("crawler_spark.seen", None, "update_seen_filters", "seen.update_seen_filters"),
    ("crawler_spark.graph", None, "mint_node_ids", "graph.mint_node_ids"),
    ("crawler_spark.graph", None, "apply_deltas", "graph.apply_deltas"),
    ("crawler_spark.walks_update", None, "update_walks", "walks_update.update_walks"),
    ("crawler_spark.walks_gen", None, "generate_walks", "walks_gen.generate_walks"),
    # apply_arbiter calls generate_walks through its own module's name
    ("crawler_spark.frontier", None, "generate_walks", "walks_gen.generate_walks"),
    ("crawler_spark.catalog", "Catalog", "write", "catalog.write"),
    ("crawler_spark.catalog", "Catalog", "write_partial", "catalog.write_partial"),
    ("crawler_spark.catalog", "Catalog", "current", "catalog.current"),
    ("crawler_spark.ops.dedup", None, "minhash_signatures", "ops.dedup.minhash_signatures"),
    ("crawler_spark.rank", None, "global_pagerank", "rank.global_pagerank"),
    ("crawler_spark.rank", None, "top_k", "rank.top_k"),
    ("crawler_spark.ppr", None, "personalized_pagerank", "ppr.personalized_pagerank"),
]


class Span:
    __slots__ = ("sid", "name", "phase", "start", "end", "parent", "group",
                 "result_files")

    def __init__(self, sid, name, phase, parent):
        self.sid = sid
        self.name = name
        self.phase = phase
        self.parent = parent
        self.start = time.perf_counter()
        self.end = None
        self.group = f"perfbench-span-{sid}"
        self.result_files = None  # (bytes written, changed, buckets)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.phase = None  # spans are recorded only while a phase is set
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[Span] = []
        self._restore: list = []
        # time spent in the wrappers themselves, per phase
        self.wrapper_s: dict = {"setup": 0.0, "timed": 0.0, "reads": 0.0}

    # ---- wrappers ----

    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            phase = tracer.phase
            if phase is None:
                return fn(*args, **kwargs)
            t_in = time.perf_counter()
            stack = tracer._stack()
            if stack:
                parent = stack[-1]
            elif tracer._main_stack:
                parent = tracer._main_stack[-1]
            else:
                parent = None
            with tracer._lock:
                span = Span(len(tracer.spans), name, phase,
                            parent.sid if parent else None)
                tracer.spans.append(span)
            prev = tracer.sc.getLocalProperty("spark.jobGroup.id")
            tracer.sc.setLocalProperty("spark.jobGroup.id", span.group)
            stack.append(span)
            t_call = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                t_ret = time.perf_counter()
                stack.pop()
                tracer.sc.setLocalProperty("spark.jobGroup.id", prev)
                span.end = time.perf_counter()
            if name in ("catalog.write", "catalog.write_partial"):
                span.result_files = _written(out)
            with tracer._lock:
                tracer.wrapper_s[phase] += (
                    (t_call - t_in) + (time.perf_counter() - t_ret)
                )
            return out

        return traced

    def install(self) -> None:
        import importlib

        for mod_name, owner, attr, name in TRACED:
            mod = importlib.import_module(mod_name)
            target = getattr(mod, owner) if owner else mod
            orig = getattr(target, attr)
            self._restore.append((target, attr, orig))
            setattr(target, attr, self.wrap(name, orig))

    def uninstall(self) -> None:
        for target, attr, orig in reversed(self._restore):
            setattr(target, attr, orig)
        self._restore = []

    # ---- reduction ----

    def span_jobs(self) -> dict[int, list[int]]:
        tr = self.sc.statusTracker()
        return {s.sid: list(tr.getJobIdsForGroup(s.group)) for s in self.spans}


def _written(snap) -> tuple[int, int, int]:
    """(bytes written, buckets written, buckets in the table) of a
    catalog snapshot: a partial commit lists its rewritten buckets in
    `changed_buckets`; the other buckets are hardlinked, not written."""
    buckets: dict[str, int] = {}
    for f in snap.files:
        head = f["path"].split("/", 1)[0]
        key = head if head.startswith("bucket=") else ""
        buckets[key] = buckets.get(key, 0) + int(f["bytes"])
    changed = snap.metrics.get("changed_buckets")
    if changed is None:  # full write
        return sum(buckets.values()), len(buckets), len(buckets)
    names = {f"bucket={b}" for b in changed}
    return (
        sum(v for k, v in buckets.items() if k in names),
        len(changed),
        len(set(buckets) | names),
    )


def stage_metrics(spark) -> dict[int, dict]:
    """stage id -> {task_s, shuffle_read, shuffle_write, spill} from the
    driver's REST API (UI enabled in the traced run only)."""
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages"
    with urllib.request.urlopen(url, timeout=30) as r:
        stages = json.load(r)
    out: dict[int, dict] = {}
    for s in stages:
        if s.get("status") != "COMPLETE":
            continue
        m = out.setdefault(
            s["stageId"],
            {"task_s": 0.0, "shuffle_read": 0, "shuffle_write": 0, "spill": 0},
        )
        m["task_s"] += s.get("executorRunTime", 0) / 1000.0
        m["shuffle_read"] += s.get("shuffleReadBytes", 0)
        m["shuffle_write"] += s.get("shuffleWriteBytes", 0)
        m["spill"] += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
    return out


def job_stages(spark, job_ids) -> dict[int, list[int]]:
    tr = spark.sparkContext.statusTracker()
    out = {}
    for j in job_ids:
        info = tr.getJobInfo(j)
        out[j] = list(info.stageIds) if info is not None else []
    return out


def self_time(span: Span, children: list[Span]) -> float:
    """Span wall minus the union of its children's intervals."""
    iv = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end is not None
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span.end - span.start) - covered
