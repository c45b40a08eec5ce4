"""Physical-plan quality gates (SCALE.md §8): filters/columns reach
the parquet scan, aggregations combine map-side, the seen-set probe
adds no exchange on the candidate stream, top-k is TakeOrdered (not a
global sort), and broadcast joins are chosen where hinted."""

from pyspark.sql import functions as F

from crawler_spark import graph, rank, seen, walks_gen

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_and_column_pushdown(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_shipdate") > "1996-01-01")
        .select("l_orderkey", "l_quantity")
    )
    scan = [l for l in _plan(df).splitlines() if "FileScan" in l][0]
    # filter reaches the scan
    assert "l_shipdate" in scan and "DataFilters" in scan
    # column pruning: only the 3 needed columns are read
    assert "l_extendedprice" not in scan


def test_visit_counts_partial_aggregation(spark):
    walks = spark.createDataFrame(
        [(0, 0, [0, 1]), (1, 1, [1, 2])],
        "walk_id long, start_id long, path array<long>",
    )
    p = _plan(walks_gen.visit_counts(walks))
    assert "partial_count" in p  # map-side combine before the shuffle


def test_probe_path_has_no_candidate_exchange(spark):
    cand = spark.read.parquet(f"{SF}/orders.parquet").select(
        F.concat(F.lit("https://h"), (F.col("o_custkey") % 20).cast("string"),
                 F.lit(".test/u"), F.col("o_custkey").cast("string")).alias("url")
    )
    seen_urls = cand.limit(100)
    filters = seen.build_seen_filters(seen_urls, 8)
    p = _plan(seen.probe_seen(cand, filters, 8))
    # the filter table ships via task broadcast, not a join: the
    # candidate stream flows scan -> project -> mapInPandas, 0 shuffles
    assert p.count("Exchange") == 0


def test_top_k_is_take_ordered(spark):
    scores = spark.createDataFrame(
        [(0, 0.5), (1, 0.3)], "node_id long, rank double"
    )
    assert "TakeOrderedAndProject" in _plan(rank.top_k(scores, 5))


def test_update_walks_untouched_path_is_shuffle_free(spark):
    """Index-selective repair: with a removal-only delta, the
    pass-through (untouched) branch is a map-side filter over the
    store scan — no exchange, no Python — and the store never
    shuffles on the repair path (graft sampling aside)."""
    from crawler_spark import walks_update

    walks = spark.createDataFrame(
        [(i, i % 5, [i % 5, (i + 1) % 5]) for i in range(50)],
        "walk_id long, start_id long, path array<long>",
    )
    out = walks_update.update_walks(
        spark, walks, spark.createDataFrame([(0, 2)], "src long, dst long"),
        [(0, [1], [2], [])], seed=1, epoch=1, strategy="broadcast",
    )
    p = _plan(out)
    # removal-only delta: selection is a map-side arrays_overlap
    # filter over the store scan, and the ONLY exchanges in the whole
    # plan key on seg_key (affected-walk-sized) — the store itself
    # never shuffles on the repair path.
    assert "arrays_overlap" in p and "Union" in p
    for line in p.splitlines():
        if "Exchange" in line:
            assert "seg_key" in line, line


def test_mint_node_ids_has_no_global_window(spark):
    """M12 two-phase minting: the url-rank window is partitioned by
    the range-partition id (parallel); no single-partition window ever
    sees the candidate rows. (The only unpartitioned window runs over
    the <=P per-partition counts.)"""
    urls = spark.range(0, 1000).select(
        F.concat(F.lit("https://h"), (F.col("id") % 13).cast("string"),
                 F.lit(".test/u"), F.col("id").cast("string")).alias("url")
    )
    p = _plan(graph.mint_node_ids(None, urls))
    assert "windowspecdefinition(url" not in p  # no global url sort
    assert "windowspecdefinition(_pid" in p  # per-range ranking
    # the range layout is pinned behind a localCheckpoint (one concrete
    # boundary placement for BOTH consumers — correctness must not rest
    # on exchange reuse), so the final explain shows the checkpointed
    # RDD; the parallel ordered exchange is asserted on phase 1 itself
    assert "existingrdd" in p.lower()
    p1 = _plan(graph._ranged_by_url(urls.select("url").distinct(), 8))
    assert "rangepartitioning" in p1.lower()  # parallel ordered exchange
    assert "singlepartition" not in p1.lower()


def test_delta_apply_broadcasts_small_removals_at_runtime(spark):
    """The removal anti-join carries NO forced broadcast hint — a
    mass-churn epoch makes the removal set unbounded, the same hazard
    remove_walks/apply_arbiter deliberately dropped — but the usual
    delta-sized case must still end up broadcast, chosen by AQE at
    runtime from the actual shuffle size."""
    edges = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    deltas = spark.createDataFrame(
        [(0, [1], [], [2])],
        "node_id long, removed array<long>, common array<long>, added array<long>",
    )
    out = graph.apply_deltas(edges, deltas)
    assert sorted((r.src, r.dst) for r in out.collect()) == [(0, 2), (1, 2)]
    p = _plan(out)
    assert "hint" not in p.lower()
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


def test_url_filter_hints_broadcast_only_on_blocklist(spark):
    """The blocklist is a small fixed dimension and keeps its
    broadcast hint; the blocked-host set joined back onto the urls
    grows with the batch's host count, so it carries NO forced
    broadcast — AQE sizes that join at runtime and still broadcasts
    the usual small set."""
    from crawler_spark.functions import extract

    urls = spark.createDataFrame(
        [("https://a.Evil.test/x",), ("https://ok.test/y",)], "url string"
    )
    blocked = spark.createDataFrame([("evil.test",)], "domain string")
    out = extract.url_filter(urls, blocked_domains=blocked)
    assert sorted((r.url, r.reason) for r in out.collect()) == [
        ("https://a.Evil.test/x", "blocked_domain"),
        ("https://ok.test/y", None),
    ]
    lines = out._jdf.queryExecution().analyzed().toString().splitlines()
    hinted = [i for i, l in enumerate(lines) if "ResolvedHint" in l]
    assert len(hinted) == 1
    # the one hinted subtree is the lowercased blocklist
    assert "lower(domain" in lines[hinted[0] + 1]
    # ...and AQE still broadcasts the small blocked-host set (the
    # plan after collect() is the final adaptive plan)
    final = _plan(out).split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    assert any(
        "BroadcastHashJoin" in l and "LeftOuter" in l
        for l in final.splitlines()
    )


def test_exact_dedup_no_window_and_release_shares_one_text_pass(spark):
    """q6 keeper selection: no window over fp in EITHER form (a
    degenerate dup group must never funnel one task's sort), and the
    persist-and-release form reads the (id, fp) cache in both the agg
    and the join branch — one normalize+md5 text pass total."""
    from crawler_spark.ops import dedup

    docs = spark.createDataFrame(
        [(0, "a b"), (1, "A b!"), (2, "c")], "doc_id long, text string"
    )
    p = _plan(dedup.exact_dedup(docs)).lower()
    assert "windowspecdefinition" not in p

    release = []
    out = dedup.exact_dedup(docs, release=release)
    out.count()
    p = _plan(out)
    assert "windowspecdefinition" not in p.lower()
    assert p.count("InMemoryTableScan") >= 2  # agg + join read the cache
    for f in release:
        f.unpersist()


def test_graft_sample_is_group_limited_pre_shuffle(spark):
    """Plan gate for the added-phase sample bound: the per-node
    top-`lim` selection pre-caps at the literal max limit, which plans
    as WindowGroupLimit with a PARTIAL pass BELOW the node_id exchange
    — a hub node's store-sized visit list forwards at most max_lim
    rows per map task instead of funnelling whole into one task's
    sort (the joined per-node `lim` alone is invisible to the
    WindowGroupLimit rewrite). Exact: lim <= max_lim per node."""
    from crawler_spark import walks_update

    walks = spark.createDataFrame(
        [(i, 0, [0, 1]) for i in range(40)],
        "walk_id long, start_id long, path array<long>",
    )
    out = walks_update._graft_assignments(
        walks, {1: ([2], 2)}, seed=1, epoch=1
    )
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in p and "Partial" in p
    # lim = round(1/2 * 40) = 20 sampled walks
    assert out.count() == 20


def test_graft_sample_zero_limits_short_circuits(spark):
    """Every estimate rounding to zero yields an empty sample with the
    contract schema and NO window pass (the delta node is never
    visited, so p*visits = 0)."""
    from crawler_spark import walks_update

    walks = spark.createDataFrame(
        [(i, 0, [0, 1]) for i in range(10)],
        "walk_id long, start_id long, path array<long>",
    )
    out = walks_update._graft_assignments(
        walks, {5: ([6], 2)}, seed=1, epoch=1
    )
    assert out.columns == ["walk_id", "graft_node"]
    assert out.count() == 0
    assert "WindowGroupLimit" not in out._jdf.queryExecution().executedPlan().toString()


def _queued_frontier(spark, n):
    """`n` queued frontier rows over 3 hosts, priorities 0-6."""
    import datetime as dt

    return spark.createDataFrame(
        [
            (
                f"https://h{i % 3}.test/p{i}",
                f"h{i % 3}.test",
                None,
                float(i % 7),
                dt.datetime(2025, 1, 1),
                None,
                "queued",
            )
            for i in range(n)
        ],
        "url string, host string, node_id long, priority double, "
        "enqueued_ts timestamp, fetched_ts timestamp, state string",
    )


def test_schedule_window_is_group_limited_pre_shuffle(spark):
    """Plan gate for the scheduler's politeness window: the per-host
    budget is a COLUMN (invisible to the WindowGroupLimit rewrite), so
    the selection must carry the literal batch_size pre-cap — exact,
    because per-host rank order equals the global batch order — which
    plans a PARTIAL WindowGroupLimit below the host exchange. Without
    it an unthrottled host (Crawl-delay 0 => budget 2^31) funnels its
    whole queued set through one task's window sort."""
    import datetime as dt

    from crawler_spark import frontier

    fr = _queued_frontier(spark, 200)
    batch, _ = frontier.schedule_batch(
        fr, None, dt.datetime(2025, 1, 2), tick_seconds=600.0, batch_size=50
    )
    p = _plan(batch)
    assert "WindowGroupLimit" in p and "Partial" in p
    assert batch.count() == 50


def test_schedule_blocked_set_reads_the_best_rule_window(spark):
    """With a robots rule set, the blocked urls come straight from the
    per-url best-rule window (winning rule is a Disallow): the queued
    urls exchange on url once for that window and once for the
    left_anti that drops the blocked ones. Joining the queued urls
    back onto the window (robots_verdicts' verdict form) would add a
    third url exchange for rows the window already carries."""
    import datetime as dt

    from crawler_spark import frontier

    fr = _queued_frontier(spark, 300)
    rules = spark.createDataFrame(
        [("h0.test", False, "/p1*"), ("h0.test", True, "/p10*"),
         ("h1.test", False, "/*")],
        "host string, allow boolean, pattern string",
    )
    batch, fr2 = frontier.schedule_batch(
        fr, rules, dt.datetime(2025, 1, 2), tick_seconds=600.0, batch_size=50
    )
    assert _plan(batch).count("Exchange hashpartitioning(url") == 2
    want = {
        r.url
        for r in frontier.robots_verdicts(fr.select("url"), rules)
        .filter(~F.col("allowed"))
        .collect()
    }
    got = {r.url for r in fr2.filter(F.col("state") == "blocked").collect()}
    assert got == want and len(want) == 133


def test_anchor_topk_is_group_limited_pre_shuffle(spark):
    """Plan gate for the anchor rollup's skew claim: the rn<=k filter
    over the per-dst row_number plans as WindowGroupLimit with a
    PARTIAL pass below the dst_url exchange — a hub target's anchor
    set forwards at most k rows per map task instead of funnelling
    whole into one task's window sort (the skew a web graph's inlink
    distribution guarantees)."""
    from crawler_spark.ops import anchors

    pairs = spark.createDataFrame(
        [
            (f"https://s{i}.test/", f"https://d{i % 4}.test/", f"t{i % 6}")
            for i in range(120)
        ],
        "src_url string, dst_url string, anchor string",
    )
    out = anchors.anchor_text_topk(pairs, k=3)
    p = _plan(out)
    assert "WindowGroupLimit" in p and "Partial" in p
    assert out.groupBy("dst_url").count().agg({"count": "max"}).first()[0] <= 3
