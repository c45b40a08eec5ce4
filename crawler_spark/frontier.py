"""Frontier scheduling: politeness, priority, robots, arbiter — the
fetch-scheduler half of the north_rule.

Reference counterparts:
 - QueryPubkeys batching (S3, pkg/crawler/crawler.go:135-184): batches
   of 50 promoted pubkeys fetched per tick -> here `schedule_batch`,
   a per-tick selection of queued frontier URLs.
 - NodeArbiter (M11, pkg/crawler/arbiter.go:84-189): periodic scan
   promoting/demoting nodes on visit counts -> `arbiter_decisions` is
   ONE DataFrame pass (nodes ⋈ visit_counts -> when(...)), and
   `apply_arbiter` flips statuses + generates/removes walks in bulk.
 - The reference has no politeness (relays aren't crawled); the
   north_rule adds per-host token budgets + robots.txt rules, so the
   scheduler takes them as first-class tables.

Determinism (north_rule "matching crawl ordering under the same seed
list + politeness budget"): every selection sorts by
(priority DESC, url ASC) — a total order — before any limit, so the
schedule is invariant to partitioning (SURVEY §7 hard-part vi).

Skew: all per-host work is keyed by host (window over host), and the
frontier/seen tables are bucketed by hash64(host) % B (seen.py), so a
hot domain saturates one politeness budget — never one Spark
partition (the window's shuffle key is the host hash; B buckets bound
any single task's share at 1/B of hosts, and per-host budgets bound
rows per host).
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import schemas
from .functions.extract import url_filter, url_host
from .walks_gen import generate_walks, remove_walks_starting_at, visit_counts

DEFAULT_CRAWL_DELAY_S = 1.0
DEFAULT_BATCH = schemas.DEFAULT_QUERY_BATCH  # 50, crawler.go:120


def enqueue(
    frontier: DataFrame | None,
    urls: DataFrame,
    now: _dt.datetime,
    url_gate: dict | None = None,
) -> DataFrame:
    """Add (url, node_id?) rows to the frontier in state 'queued'.
    Already-present urls are not re-queued (anti-join on url), and
    duplicates WITHIN the batch collapse to one row (max priority,
    min node_id) — a url queued twice would double-count against its
    host's politeness budget and then multiply through every
    scheduler tick's url join.

    `url_gate` (optional, opt-in) runs the RefinedWeb-style
    pre-fetch quality gate BEFORE anything enters the frontier —
    the cheapest filter at the cheapest point (a url dropped here
    never costs a politeness slot, a robots probe, or a fetch).
    Keys are extract.url_filter's kwargs: {'blocked_domains': df,
    'max_spam_score': int}. Default None = gate off, enqueue
    bit-unchanged."""
    if url_gate is not None:
        urls = (
            url_filter(urls, **url_gate)
            .filter(F.col("keep"))
            .drop("spam_score", "keep", "reason")
        )
    cols = urls.columns
    new = (
        urls.select(
            "url",
            (F.col("node_id") if "node_id" in cols else F.lit(None))
            .cast("long")
            .alias("node_id"),
            (F.col("priority") if "priority" in cols else F.lit(0.0))
            .cast("double")
            .alias("priority"),
        )
        .groupBy("url")
        .agg(
            F.min("node_id").alias("node_id"),
            F.max("priority").alias("priority"),
        )
        .select(
            "url",
            url_host(F.col("url")).alias("host"),
            "node_id",
            "priority",
            F.lit(now).cast("timestamp").alias("enqueued_ts"),
            F.lit(None).cast("timestamp").alias("fetched_ts"),
            F.lit("queued").alias("state"),
        )
    )
    if frontier is None:
        return new
    new = new.join(frontier.select("url"), "url", "left_anti")
    return frontier.unionByName(new)


def schedule_batch(
    frontier: DataFrame,
    robots: DataFrame | None,
    now: _dt.datetime,
    tick_seconds: float = 60.0,
    batch_size: int = DEFAULT_BATCH,
    default_crawl_delay_s: float = DEFAULT_CRAWL_DELAY_S,
) -> tuple[DataFrame, DataFrame]:
    """One scheduler tick. Returns (batch, frontier').

    batch    = queued ∧ robots-allowed urls, per-host token budget
               floor(tick/crawl_delay) (min 1), then the global top
               `batch_size` by (priority DESC, url) — W3's window +
               stable sort.
    frontier' = batch rows flipped to 'fetched' (fetched_ts=now) and
               robots-disallowed rows flipped to 'blocked'.

    `robots` is the RFC 9309 rule set `(host, allow, pattern[,
    crawl_delay_s])` — e.g. parse_robots output — evaluated by
    robots_verdicts (multiple Allow/Disallow lines, `*` wildcards, `$`
    anchors, longest match with allow winning ties, a bare-host url
    as path `/`). A per-host crawl_delay_s column, if present, feeds
    the politeness budget (max over the host's rows; a row with a
    null pattern carries only a delay); hosts without one use
    `default_crawl_delay_s`. The rules are a small dimension ->
    broadcast joins (no shuffle of the frontier side beyond the
    per-host window)."""
    queued = frontier.filter(F.col("state") == "queued")
    blocked = None
    delay = F.lit(default_crawl_delay_s)
    if robots is not None:
        # blocked: the urls whose winning rule is a Disallow
        _, best = _robots_best_rule(
            queued.select("url"), robots.select("host", "allow", "pattern")
        )
        blocked = best.filter(~F.col("_allow")).select("url")
        queued = queued.join(blocked, "url", "left_anti")
        if "crawl_delay_s" in robots.columns:
            delays = robots.groupBy("host").agg(
                F.max("crawl_delay_s").alias("crawl_delay_s")
            )
            queued = queued.join(F.broadcast(delays), "host", "left")
            delay = F.coalesce("crawl_delay_s", delay)
    # Crawl-delay 0 = the host opted OUT of throttling: tick/0 is NULL
    # in Spark and greatest(1, NULL) would silently clamp the
    # UNthrottled host to the most-throttled budget of 1. Every host's
    # budget is Spark's floor(tick / delay), never Python's `//`:
    # 60 // 0.1 is 599 where floor(60 / 0.1) is 600.
    budget = F.when(delay <= 0, F.lit(1 << 31)).otherwise(
        F.greatest(F.lit(1), F.floor(F.lit(tick_seconds) / delay))
    )

    w = Window.partitionBy("host").orderBy(F.desc("priority"), F.asc("url"))
    # literal batch_size pre-cap: the per-host budget arrives as a
    # COLUMN, which the WindowGroupLimit rewrite can't bound by — an
    # unthrottled host (Crawl-delay 0 => budget 2^31) would funnel its
    # whole queued set through one task's window sort. Per-host rank
    # order equals the global batch order (priority DESC, url), so a
    # row ranked past batch_size within its host has batch_size
    # same-host rows ahead of it globally and can never enter the
    # final top-batch_size — the literal cap is exact and plans the
    # PARTIAL WindowGroupLimit pass below the host exchange.
    polite = (
        queued.withColumn("_budget", budget)
        .withColumn("_rn", F.row_number().over(w))
        .filter(
            (F.col("_rn") <= F.lit(int(batch_size)))
            & (F.col("_rn") <= F.col("_budget"))
        )
        .drop("_rn", "_budget", "crawl_delay_s")
    )
    batch = polite.orderBy(F.desc("priority"), F.asc("url")).limit(batch_size)

    updated = frontier.join(
        batch.select("url").withColumn("_sched", F.lit(True)), "url", "left"
    )
    state = F.when(F.col("_sched"), F.lit("fetched"))
    if blocked is not None:
        updated = updated.join(
            blocked.withColumn("_blk", F.lit(True)), "url", "left"
        )
        state = state.when(F.col("_blk"), F.lit("blocked"))
    updated = (
        updated.withColumn("state", state.otherwise(F.col("state")))
        .withColumn(
            "fetched_ts",
            F.when(F.col("_sched"), F.lit(now).cast("timestamp")).otherwise(
                F.col("fetched_ts")
            ),
        )
        .drop("_sched", "_blk")
    )
    return batch.select("url", "host", "node_id", "priority"), updated


# ---- arbiter (M11) ----


def arbiter_decisions(
    nodes: DataFrame,
    walks: DataFrame,
    now: _dt.datetime,
    walks_per_node: int = schemas.DEFAULT_WALKS_PER_NODE,
    promotion_multiplier: float = schemas.ARBITER_PROMOTION_MULTIPLIER,
    demotion_multiplier: float = schemas.ARBITER_DEMOTION_MULTIPLIER,
    promotion_wait_s: float = schemas.ARBITER_PROMOTION_WAIT_S,
    visits: DataFrame | None = None,
) -> DataFrame:
    """One scan pass (arbiter.go:84-189): nodes ⋈ visit counts ->
    'promote' | 'demote' | 'keep'.

    shouldDemote (arbiter.go:166-174): active ∧ visits <
    round(demotion_multiplier*wpn). shouldPromote (:176-189): inactive
    ∧ added_ts older than the wait period ∧ visits >=
    round(promotion_multiplier*wpn).

    With a maintained `visits` index (node_id, walk_id) the counts
    come from ONE narrow-table agg (the reference reads its
    walksVisiting SCards, store.go:169-194); without one they derive
    from exploding the walk store's paths."""
    demote_thr = int(demotion_multiplier * walks_per_node + 0.5)
    promote_thr = int(promotion_multiplier * walks_per_node + 0.5)
    cutoff = now - _dt.timedelta(seconds=promotion_wait_s)
    vc = (
        visits.groupBy("node_id").agg(F.count("*").alias("visits"))
        if visits is not None
        else visit_counts(walks)
    )
    return (
        nodes.join(vc, "node_id", "left")
        .withColumn("visits", F.coalesce("visits", F.lit(0)))
        .withColumn(
            "decision",
            F.when(
                (F.col("status") == schemas.STATUS_ACTIVE)
                & (F.col("visits") < demote_thr),
                F.lit("demote"),
            )
            .when(
                (F.col("status") == schemas.STATUS_INACTIVE)
                & (F.col("added_ts") <= F.lit(cutoff).cast("timestamp"))
                & (F.col("visits") >= promote_thr),
                F.lit("promote"),
            )
            .otherwise(F.lit("keep")),
        )
    )


def apply_arbiter(
    spark: SparkSession,
    walks: DataFrame,
    edges: DataFrame,
    decisions: DataFrame,
    now: _dt.datetime,
    alpha: float = schemas.DEFAULT_ALPHA,
    walks_per_node: int = schemas.DEFAULT_WALKS_PER_NODE,
    seed: int = 42,
    strategy: str = "auto",
    *,
    walk_id_offset: int,
    node_bucket_expr,
) -> tuple[DataFrame, DataFrame, DataFrame, dict, dict]:
    """Bulk PromoteNode/DemoteNode (arbiter.go:192-228): returns
    (nodes', walks', promoted nodes, decision counts, delta). Promotion
    generates walks_per_node walks per promoted node in ONE job (vs
    the reference's per-node loop), numbered from `walk_id_offset`
    (the engine's lastWalkID counter, store.go:331-340); demotion
    drops walks originating at demoted nodes in one anti-join.

    `decisions` (arbiter_decisions' output) holds every node row, so
    nodes' is `decisions` with the flip rule applied — written once,
    as one {status, promoted_ts, demoted_ts} expression map.

    ONE driver action over `decisions` yields the decision counts
    and, via `node_bucket_expr` (a column expr over the node rows),
    the url buckets of the flipped nodes (`delta['node_buckets']`)
    and of the promoted ones (`delta['promoted_buckets']`), feeding
    bucket-scoped commits. The counts let the engine skip the delta
    work when a pass flips nothing.

    `delta` also carries the change sets a maintained visits index /
    bucket-scoped commit needs: `removed_walks` (full rows of walks
    dropped by demotion), `added_walks` (the generated rows) and
    `flipped_new` (the flipped node rows of nodes'); each is None
    when the pass has nothing of its kind."""
    rows = (
        decisions.groupBy("decision")
        .agg(
            F.count("*").alias("n"),
            F.collect_set(node_bucket_expr.cast("int")).alias("bs"),
        )
        .collect()
    )
    cnts = {r["decision"]: int(r["n"]) for r in rows}
    buckets = {r["decision"]: {int(b) for b in r["bs"]} for r in rows}
    promoted_buckets = buckets.get("promote", set())
    delta: dict = {
        "removed_walks": None,
        "added_walks": None,
        "flipped_new": None,
        "node_buckets": sorted(promoted_buckets | buckets.get("demote", set())),
        "promoted_buckets": sorted(promoted_buckets),
    }
    promote = F.col("decision") == "promote"
    demote = F.col("decision") == "demote"
    promoted = decisions.filter(promote).select("node_id", "url")
    new_walks = walks
    if cnts.get("demote", 0):
        demoted = decisions.filter(demote).select("node_id")
        # full rows of the dropped walks (start_id is the walk's
        # origin by construction): the caller's visits delta and
        # dirty-bucket sets derive from them without re-scanning
        # no forced broadcast: a config change (raised demotion
        # multiplier) can demote an unbounded node set in one pass;
        # AQE broadcasts the typical small case at runtime anyway
        delta["removed_walks"] = walks.join(
            demoted.select(F.col("node_id").alias("start_id")),
            "start_id",
            "left_semi",
        ).select("walk_id", "start_id", "path")
        new_walks = remove_walks_starting_at(new_walks, demoted)
    if cnts.get("promote", 0):
        gen = generate_walks(
            spark,
            edges,
            promoted.select("node_id"),
            alpha=alpha,
            walks_per_node=walks_per_node,
            seed=seed,
            walk_id_offset=walk_id_offset,
            strategy=strategy,
        )
        delta["added_walks"] = gen
        new_walks = new_walks.unionByName(gen)

    ts = F.lit(now).cast("timestamp")
    flip = {
        "status": F.when(promote, F.lit(schemas.STATUS_ACTIVE))
        .when(demote, F.lit(schemas.STATUS_INACTIVE))
        .otherwise(F.col("status")),
        "promoted_ts": F.when(promote, ts).otherwise(F.col("promoted_ts")),
        "demoted_ts": F.when(demote, ts).otherwise(F.col("demoted_ts")),
    }
    node_cols = [c for c in decisions.columns if c not in ("visits", "decision")]

    def flipped(df: DataFrame) -> DataFrame:
        return df.select(*[flip.get(c, F.col(c)).alias(c) for c in node_cols])

    if cnts.get("promote", 0) or cnts.get("demote", 0):
        delta["flipped_new"] = flipped(decisions.filter(promote | demote))
    return flipped(decisions), new_walks, promoted, cnts, delta


def change_ratio(walks_changed: int, total_visits_: int, alpha: float) -> float:
    """A8 arbiter trigger (arbiter.go:64-68): walksChanged /
    (totalVisits * (1-alpha)) — the denominator is the expected walk
    count via the mean-length identity."""
    total_walks = total_visits_ * (1.0 - alpha)
    return walks_changed / total_walks if total_walks > 0 else 0.0


# ---- RFC 9309 robots matching ----

def robots_pattern_rx(pattern):
    """Robots-rule pattern -> anchored regex, in column expressions:
    regex specials escaped, `*` -> `.*`, a trailing `$` kept as the
    end anchor (RFC 9309 §2.2.3), everything prefix-anchored with
    `^`. Built on the (small, broadcast) rules side — the frontier
    side never runs per-row string surgery."""
    esc = F.regexp_replace(pattern, r"([.^$+?(){}|\[\]\\])", r"\\$1")
    star = F.regexp_replace(esc, r"\*", ".*")
    anchored = F.regexp_replace(star, r"\\\$$", r"\$")
    return F.concat(F.lit("^"), anchored)


def robots_verdicts(
    urls: DataFrame,
    rules: DataFrame,
) -> DataFrame:
    """(url, host, allowed, matched_rule): RFC 9309 robots evaluation
    of each url against a per-host rule set `(host, allow boolean,
    pattern string)` — multiple Allow/Disallow lines per host, `*`
    wildcards, `$` end anchors, longest-match precedence with allow
    winning length ties (§2.2.2), default-allow when nothing matches
    (including hosts with no rules at all). Empty patterns are
    no-ops (an empty Disallow traditionally means "disallow
    nothing"); a url with no path evaluates as `/`. schedule_batch
    flips the `allowed == false` urls to 'blocked'.

    Scale shape: rules are a broadcast dimension (a robots.txt is
    ~KBs/host); the only frontier-side work is the broadcast join,
    one regex match per (url, host-rule), and a per-url window on the
    few matching rules. No shuffle of the frontier beyond the window
    on url."""
    base, best = _robots_best_rule(urls, rules)
    return (
        base.join(best, "url", "left")
        .select(
            "url",
            "host",
            F.coalesce("_allow", F.lit(True)).alias("allowed"),
            "matched_rule",
        )
    )


def _robots_best_rule(urls: DataFrame, rules: DataFrame):
    """(base, best) for robots_verdicts: `base` is (url, host, _path)
    per input url; `best` is (url, _allow, matched_rule), one row per
    url that some non-empty rule of its host matches — the winner by
    longest pattern, allow on ties, then pattern. Urls absent from
    `best` are allowed by default."""
    path_raw = F.regexp_replace("url", r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/]*", "")
    base = urls.select(
        "url",
        url_host(F.col("url")).alias("host"),
        F.when(path_raw == "", F.lit("/")).otherwise(path_raw).alias("_path"),
    )
    r = (
        rules.filter(F.length("pattern") > 0)
        .select(
            "host",
            F.col("allow").cast("boolean").alias("allow"),
            "pattern",
            robots_pattern_rx(F.col("pattern")).alias("_rx"),
        )
    )
    joined = base.join(F.broadcast(r), "host", "left")
    hit = joined.filter(
        F.col("pattern").isNotNull() & F.expr("_path rlike _rx")
    )
    w = Window.partitionBy("url").orderBy(
        F.length("pattern").desc(), F.col("allow").desc(), F.col("pattern").asc()
    )
    best = (
        hit.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("url", F.col("allow").alias("_allow"), F.col("pattern").alias("matched_rule"))
    )
    return base, best


def _parse_robots_one(text: str, user_agent: str) -> list:
    """RFC 9309 group selection + rule extraction for one robots.txt
    body: rules come from the group(s) whose user-agent line is the
    LONGEST match for `user_agent` (exact product token or '*';
    §2.2.1), consecutive user-agent lines share one group, matching
    is case-insensitive on field names, inline '#' comments are
    stripped. Returns [(allow, pattern, crawl_delay_s)]."""
    groups: list[tuple[list, list, float | None]] = []  # (agents, rules, delay)
    agents: list[str] = []
    rules: list[tuple[bool, str]] = []
    delay: float | None = None
    in_group_body = False

    def flush():
        nonlocal agents, rules, delay, in_group_body
        if agents:
            groups.append((agents, rules, delay))
        agents, rules, delay, in_group_body = [], [], None, False

    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if in_group_body:
                flush()
            agents.append(value.lower())
        elif field in ("allow", "disallow"):
            in_group_body = True
            if value:
                rules.append((field == "allow", value))
        elif field == "crawl-delay":
            in_group_body = True
            try:
                delay = float(value)
            except ValueError:
                pass
    flush()

    ua = user_agent.lower()

    def match_len(g_agents: list[str]) -> int:
        best = -1
        for a in g_agents:
            if a == "*":
                best = max(best, 0)
            elif ua.startswith(a):
                best = max(best, len(a))
        return best

    best_len = max((match_len(g) for g, _, _ in groups), default=-1)
    if best_len < 0:
        return []
    # RFC 9309 §2.2.1: ALL groups matching the agent at the best
    # specificity combine — two separate 'User-agent: *' blocks
    # contribute both their rule sets, in document order. Crawl-delay
    # (non-standard but widespread) takes the MAX across tied groups —
    # the most conservative wait.
    rules: list[tuple[bool, str]] = []
    delay: float | None = None
    for g_agents, g_rules, g_delay in groups:
        if match_len(g_agents) == best_len:
            rules.extend(g_rules)
            if g_delay is not None:
                delay = g_delay if delay is None else max(delay, g_delay)
    return [(allow, pat, delay) for allow, pat in rules] or (
        [(True, "/", delay)] if delay is not None else []
    )


def parse_robots(
    robots_docs: DataFrame,
    user_agent: str = "*",
    host_col: str = "host",
    text_col: str = "robots_txt",
) -> DataFrame:
    """(host, allow, pattern, crawl_delay_s): fetched robots.txt
    bodies -> the rule-set dimension robots_verdicts and
    schedule_batch's `robots` consume. One Arrow batch per
    partition (mapInPandas), no shuffle — robots bodies are already
    host-keyed and the output is a per-host dimension (~KBs/host, the
    broadcast side downstream). Group selection follows RFC 9309
    longest-agent-match; hosts whose file yields no applicable group
    produce no rows (downstream default-allow)."""
    import pandas as pd

    out_schema = (
        f"{host_col} string, allow boolean, pattern string, "
        "crawl_delay_s double"
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for host, text in zip(pdf[host_col], pdf[text_col]):
                for allow, pattern, delay in _parse_robots_one(
                    text, user_agent
                ):
                    rows.append((host, allow, pattern, delay))
            yield pd.DataFrame(
                rows,
                columns=[host_col, "allow", "pattern", "crawl_delay_s"],
            )

    return robots_docs.select(host_col, text_col).mapInPandas(
        gen, schema=out_schema
    )
