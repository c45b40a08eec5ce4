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
from .walks_gen import (
    generate_walks,
    next_walk_id,
    remove_walks_starting_at,
    visit_counts,
)

DEFAULT_CRAWL_DELAY_S = 1.0
DEFAULT_BATCH = schemas.DEFAULT_QUERY_BATCH  # 50, crawler.go:120


def enqueue(
    frontier: DataFrame | None,
    urls: DataFrame,
    now: _dt.datetime,
    spark: SparkSession | None = None,
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
    robots_rules: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One scheduler tick. Returns (batch, frontier').

    batch    = queued ∧ robots-allowed urls, per-host token budget
               floor(tick/crawl_delay) (min 1), then the global top
               `batch_size` by (priority DESC, url) — W3's window +
               stable sort.
    frontier' = batch rows flipped to 'fetched' (fetched_ts=now) and
               robots-disallowed rows flipped to 'blocked'.

    robots is a small dimension -> broadcast join (no shuffle of the
    frontier side beyond the per-host window).

    `robots_rules` supersedes the single-prefix `robots=` form with
    full RFC 9309 evaluation: a `(host, allow, pattern[,
    crawl_delay_s])` rule set fed through robots_verdicts (multiple
    Allow/Disallow lines, wildcards, $ anchors, longest-match with
    allow winning ties); a per-host crawl_delay_s column, if present,
    feeds the politeness budget."""
    queued = frontier.filter(F.col("state") == "queued")

    if robots_rules is not None:
        v = robots_verdicts(
            queued.select("url"),
            robots_rules.select("host", "allow", "pattern"),
        )
        blocked = v.filter(~F.col("allowed")).select("url")
        queued = queued.join(
            blocked.withColumn("_blocked", F.lit(True)), "url", "left"
        ).filter(F.col("_blocked").isNull()).drop("_blocked")
        if "crawl_delay_s" in robots_rules.columns:
            delays = (
                robots_rules.groupBy("host")
                .agg(F.max("crawl_delay_s").alias("crawl_delay_s"))
            )
            queued = queued.join(F.broadcast(delays), "host", "left")
            delay = F.coalesce(
                "crawl_delay_s", F.lit(default_crawl_delay_s)
            )
            # Crawl-delay 0 = unthrottled, not budget-1 (see the
            # single-prefix branch)
            budget = F.when(delay <= 0, F.lit(1 << 31)).otherwise(
                F.greatest(F.lit(1), F.floor(F.lit(tick_seconds) / delay))
            )
        else:
            budget = F.lit(
                (1 << 31)
                if default_crawl_delay_s <= 0
                else max(1, int(tick_seconds // default_crawl_delay_s))
            )
    elif robots is not None:
        rb = robots.select("host", "disallow_prefix", "crawl_delay_s")
        # path = url minus scheme+host; regexp (not a fixed offset) so
        # http:// (7 chars) and https:// (8) both keep their leading '/'
        path = F.regexp_replace("url", r"^https?://[^/]+", "")
        # a host may carry SEVERAL disallow rows: derive the blocked
        # url set via join + distinct and subtract it, instead of
        # left-joining rules onto queued rows — that would duplicate
        # every queued row per rule, double-counting the politeness
        # budget and putting the same url into the batch twice.
        # length > 0: a bare 'Disallow:' (empty prefix) disallows
        # NOTHING (RFC 9309), exactly as the rules path treats it
        blocked = (
            queued.join(F.broadcast(rb), "host")
            .filter(
                F.col("disallow_prefix").isNotNull()
                & (F.length("disallow_prefix") > 0)
                & path.startswith(F.col("disallow_prefix"))
            )
            .select("url")
            .distinct()
        )
        queued = queued.join(blocked, "url", "left_anti")
        # one delay per host for the budget (max = most conservative)
        delays = rb.groupBy("host").agg(
            F.max("crawl_delay_s").alias("crawl_delay_s")
        )
        queued = queued.join(F.broadcast(delays), "host", "left")
        delay = F.coalesce("crawl_delay_s", F.lit(default_crawl_delay_s))
        # Crawl-delay 0 = the host opted OUT of throttling: tick/0 is
        # NULL in Spark and greatest(1, NULL) would silently clamp the
        # UNthrottled host to the most-throttled budget of 1
        budget = F.when(delay <= 0, F.lit(1 << 31)).otherwise(
            F.greatest(F.lit(1), F.floor(F.lit(tick_seconds) / delay))
        )
    else:
        blocked = None
        budget = F.lit(
            (1 << 31)
            if default_crawl_delay_s <= 0
            else max(1, int(tick_seconds // default_crawl_delay_s))
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
        .drop("_rn", "_budget", "disallow_prefix", "crawl_delay_s")
    )
    batch = polite.orderBy(F.desc("priority"), F.asc("url")).limit(batch_size)

    batch_urls = batch.select("url")
    updated = (
        frontier.join(
            batch_urls.withColumn("_sched", F.lit(True)), "url", "left"
        )
        .join(
            (blocked.withColumn("_blk", F.lit(True)) if blocked is not None
             else frontier.limit(0).select("url").withColumn("_blk", F.lit(True))),
            "url",
            "left",
        )
        .withColumn(
            "state",
            F.when(F.col("_sched"), F.lit("fetched"))
            .when(F.col("_blk"), F.lit("blocked"))
            .otherwise(F.col("state")),
        )
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
    nodes: DataFrame,
    walks: DataFrame,
    edges: DataFrame,
    decisions: DataFrame,
    now: _dt.datetime,
    alpha: float = schemas.DEFAULT_ALPHA,
    walks_per_node: int = schemas.DEFAULT_WALKS_PER_NODE,
    seed: int = 42,
    strategy: str = "auto",
    walk_id_offset: int | None = None,
    node_bucket_expr=None,
) -> tuple[DataFrame, DataFrame, DataFrame, dict, dict]:
    """Bulk PromoteNode/DemoteNode (arbiter.go:192-228): returns
    (nodes', walks', promoted nodes, decision counts, delta). Promotion
    generates walks_per_node walks per promoted node in ONE job (vs
    the reference's per-node loop); demotion drops walks originating
    at demoted nodes in one anti-join.

    ONE driver action sizes both branches (the former pair of
    limit(1).count() probes plus the caller's promoted.count() were
    three needless job launches per arbiter pass in the epoch loop);
    the counts let the engine skip full-table commits when a pass
    flips nothing. With `node_bucket_expr` (a column expr over the
    node rows) the same action also yields `delta['node_buckets']` —
    the url buckets of flipped nodes, feeding bucket-scoped commits.

    `walk_id_offset`: the engine tracks lastWalkID incrementally (the
    reference's RWS counter, store.go:331-340); when absent it is
    recomputed with a max() scan of the store.

    `delta` carries the change sets a maintained visits index /
    bucket-scoped commit needs: `removed_walks` (full rows of walks
    dropped by demotion), `added_walks` (the generated rows), and the
    flipped node rows before/after (`flipped_old`/`flipped_new`)."""
    promoted = decisions.filter(F.col("decision") == "promote").select(
        "node_id", "url"
    )
    demoted = decisions.filter(F.col("decision") == "demote").select("node_id")
    if node_bucket_expr is not None:
        rows = (
            decisions.groupBy("decision")
            .agg(
                F.count("*").alias("n"),
                F.collect_set(node_bucket_expr.cast("int")).alias("bs"),
            )
            .collect()
        )
        cnts = {r["decision"]: int(r["n"]) for r in rows}
        node_buckets = sorted(
            {int(b) for r in rows if r["decision"] != "keep" for b in r["bs"]}
        )
    else:
        rows = decisions.groupBy("decision").agg(F.count("*").alias("n")).collect()
        cnts = {r["decision"]: int(r["n"]) for r in rows}
        node_buckets = None
    n_promoted = cnts.get("promote", 0)
    delta: dict = {
        "removed_walks": None,
        "added_walks": None,
        "flipped_old": None,
        "flipped_new": None,
        "node_buckets": node_buckets,
    }

    new_walks = walks
    if cnts.get("demote", 0):
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
    if n_promoted:
        gen = generate_walks(
            spark,
            edges,
            promoted.select("node_id"),
            alpha=alpha,
            walks_per_node=walks_per_node,
            seed=seed,
            walk_id_offset=(
                walk_id_offset
                if walk_id_offset is not None
                else next_walk_id(walks)
            ),
            strategy=strategy,
        )
        delta["added_walks"] = gen
        new_walks = new_walks.unionByName(gen)

    ts = F.lit(now).cast("timestamp")
    node_cols = nodes.columns
    new_nodes = (
        nodes.join(
            decisions.select("node_id", "decision"), "node_id", "left"
        )
        .withColumn(
            "status",
            F.when(F.col("decision") == "promote", F.lit(schemas.STATUS_ACTIVE))
            .when(F.col("decision") == "demote", F.lit(schemas.STATUS_INACTIVE))
            .otherwise(F.col("status")),
        )
        .withColumn(
            "promoted_ts",
            F.when(F.col("decision") == "promote", ts).otherwise(
                F.col("promoted_ts")
            ),
        )
        .withColumn(
            "demoted_ts",
            F.when(F.col("decision") == "demote", ts).otherwise(F.col("demoted_ts")),
        )
        .drop("decision")
    )
    if cnts.get("promote", 0) or cnts.get("demote", 0):
        flipped = decisions.filter(F.col("decision") != "keep")
        delta["flipped_old"] = flipped.select(*node_cols)
        delta["flipped_new"] = (
            flipped.select(
                *[c for c in node_cols if c not in
                  ("status", "promoted_ts", "demoted_ts")],
                F.when(
                    F.col("decision") == "promote",
                    F.lit(schemas.STATUS_ACTIVE),
                ).otherwise(F.lit(schemas.STATUS_INACTIVE)).alias("status"),
                F.when(F.col("decision") == "promote", ts)
                .otherwise(F.col("promoted_ts"))
                .alias("promoted_ts"),
                F.when(F.col("decision") == "demote", ts)
                .otherwise(F.col("demoted_ts"))
                .alias("demoted_ts"),
            ).select(*node_cols)  # restore declared column order
        )
    return new_nodes, new_walks, promoted, cnts, delta


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
    nothing"). This generalizes the single-prefix `robots=` argument
    of schedule_batch; feed `allowed == false` urls to the 'blocked'
    state transition.

    Scale shape: rules are a broadcast dimension (a robots.txt is
    ~KBs/host); the only frontier-side work is the broadcast join,
    one regex match per (url, host-rule), and a per-url window on the
    few matching rules. No shuffle of the frontier beyond the window
    on url."""
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
    return (
        base.join(best, "url", "left")
        .select(
            "url",
            "host",
            F.coalesce("_allow", F.lit(True)).alias("allowed"),
            "matched_rule",
        )
    )


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
    bodies -> the rule-set dimension robots_verdicts /
    schedule_batch(robots_rules=) consume. One Arrow batch per
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
