"""End-to-end crawl gates: bootstrap -> scheduled fetches -> link
discovery -> delta/walk repair -> arbiter promotion, with
checkpoint/resume equality and run-to-run determinism of the crawl
ordering and URL-seen set (north_rule)."""

import datetime as dt

from pyspark.sql import functions as F

from crawler_spark import datagen, engine, walks_gen

NOW = dt.datetime(2025, 6, 1, tzinfo=dt.timezone.utc)


def _web(spark):
    """A 40-page synthetic web over a ring+chords graph so discovery
    has somewhere to go."""
    follows = {i: sorted({(i + 1) % 40, (i + 7) % 40} - {i}) for i in range(40)}
    return datagen.pages_df(spark, follows), follows


def _mk(spark, tmp_path, name):
    return engine.CrawlEngine(
        spark,
        str(tmp_path / name),
        walks_per_node=20,
        n_buckets=8,
        batch_size=10,
        promotion_wait_s=0.0,
        seed=42,
    )


def _run(spark, tmp_path, name, epochs=4):
    web, _ = _web(spark)
    eng = _mk(spark, tmp_path, name)
    seeds = [datagen.node_url(i) for i in (0, 1, 2)]
    eng.bootstrap(seeds, NOW)
    order = []
    stats = []
    for k in range(epochs):
        now = NOW + dt.timedelta(minutes=k + 1)
        batch, eng.frontier = __import__(
            "crawler_spark.frontier", fromlist=["schedule_batch"]
        ).schedule_batch(
            eng.frontier, None, now, tick_seconds=eng.tick_seconds,
            batch_size=eng.batch_size,
        )
        # this loop mutates the frontier outside run_epoch's dirty
        # tracking -> commit it in full
        eng._frontier_dirty = None
        urls = [r.url for r in batch.orderBy(F.desc("priority"), "url").collect()]
        order.append(urls)
        eng.epoch += 1
        fetched = web.join(batch.select("url"), "url", "left_semi")
        s = eng.process_pages(fetched, now)
        s.update(eng.maybe_arbiter(now))
        eng._commit(now, s)
        stats.append(s)
    return eng, order, stats


def test_crawl_discovers_and_promotes(spark, tmp_path):
    eng, order, stats = _run(spark, tmp_path, "run1")
    # seeds fetched first epoch
    assert order[0] and set(order[0]) <= {datagen.node_url(i) for i in (0, 1, 2)}
    # discovery happened: nodes grew beyond the 3 seeds
    assert eng.nodes.count() > 3
    # edges materialized from extracted links
    assert eng.edges.count() > 0
    # walk store stays consistent: every path starts at its start_id
    assert eng.walks.filter(
        F.element_at("path", 1) != F.col("start_id")
    ).count() == 0
    # someone got promoted and re-enqueued across the epochs
    assert any(s.get("promoted", 0) > 0 for s in stats)
    # frontier states are only the known enum
    states = {r.state for r in eng.frontier.select("state").distinct().collect()}
    assert states <= {"queued", "fetched", "blocked"}


def test_crawl_ordering_and_seen_set_deterministic(spark, tmp_path, monkeypatch):
    eng1, order1, _ = _run(spark, tmp_path, "det_a")
    assert eng1.walk_strategy == "broadcast"
    # the second crawl runs past the broadcast limit: bootstrap, arbiter
    # walk generation and walk repair all take the bucketed kernel
    monkeypatch.setattr(walks_gen, "BROADCAST_EDGE_LIMIT", -1)
    eng2, order2, _ = _run(spark, tmp_path, "det_b")
    assert eng2.walk_strategy == "bucketed"
    assert order1 == order2
    seen1 = sorted(r.url for r in eng1.nodes.select("url").collect())
    seen2 = sorted(r.url for r in eng2.nodes.select("url").collect())
    assert seen1 == seen2
    ids1 = sorted((r.url, r.node_id) for r in eng1.nodes.collect())
    ids2 = sorted((r.url, r.node_id) for r in eng2.nodes.collect())
    assert ids1 == ids2
    walks1 = sorted((r.walk_id, tuple(r.path)) for r in eng1.walks.collect())
    walks2 = sorted((r.walk_id, tuple(r.path)) for r in eng2.walks.collect())
    assert walks1 == walks2
    pr1 = sorted(map(tuple, eng1.pagerank().collect()))
    pr2 = sorted(map(tuple, eng2.pagerank().collect()))
    assert pr1 == pr2


def test_empty_and_inactive_follow_lists(spark, tmp_path):
    """processFollowList semantics (process.go:132-167): a re-crawled
    page whose follow list became EMPTY must remove all its edges
    (Partition(old, nil)), and an INACTIVE author's list is applied
    too — restricted to already-known targets, without minting new
    nodes (resolveIDs only adds nodes for active authors)."""
    eng = _mk(spark, tmp_path, "semantics")
    eng.bootstrap([datagen.node_url(i) for i in (0, 1, 2)], NOW)

    # epoch 1: node0 links {1,2} -> two edges appear
    eng.epoch += 1
    s1 = eng.process_pages(datagen.pages_df(spark, {0: [1, 2]}), NOW)
    assert s1["deltas"] == 1
    assert sorted(
        (r.src, r.dst) for r in eng.edges.collect()
    ) == [(0, 1), (0, 2)]
    assert eng.n_edges == 2

    # epoch 2: node0 re-crawled with NO links -> full-removal delta
    eng.epoch += 1
    s2 = eng.process_pages(datagen.pages_df(spark, {0: []}), NOW)
    assert s2["deltas"] == 1
    assert eng.edges.filter(F.col("src") == 0).count() == 0
    assert eng.n_edges == 0

    # epoch 3: node2 flipped inactive, links {1, 99} (99 unknown) ->
    # edge 2->1 applied, node 99 NOT minted, no discovery
    eng.nodes = eng.nodes.withColumn(
        "status",
        F.when(F.col("node_id") == 2, F.lit("inactive")).otherwise(
            F.col("status")
        ),
    )
    eng.epoch += 1
    s3 = eng.process_pages(datagen.pages_df(spark, {2: [1, 99]}), NOW)
    assert s3["new_nodes"] == 0
    assert sorted((r.src, r.dst) for r in eng.edges.collect()) == [(2, 1)]
    assert eng.nodes.filter(
        F.col("url") == datagen.node_url(99)
    ).count() == 0


def test_bucketed_commits_record_partial_writes(spark, tmp_path):
    """After bootstrap's full snapshot, a delta epoch (no arbiter
    restructure) commits walks/edges/filters at BUCKET level: the
    manifest records changed_buckets (a strict subset), untouched
    bucket dirs hardlink the previous version byte-identically, and
    the logical table round-trips."""
    import os

    eng = _mk(spark, tmp_path, "buckets")
    eng.bootstrap([datagen.node_url(i) for i in (0, 1, 2)], NOW)
    eng.epoch += 1
    # delta touches nodes 0 and 1 only -> node 2's walks (and their
    # buckets) stay untouched and must hardlink through the commit
    s = eng.process_pages(
        datagen.pages_df(spark, {0: [1, 2], 1: [2, 5]}), NOW
    )
    assert s["deltas"] == 2 and s["new_nodes"] == 1
    # pre-commit logical state is the ground truth the snapshot chain
    # must reproduce (snapshot-vs-snapshot comparison alone would hide
    # a partial write that dropped rows on BOTH sides)
    want_edges = sorted(map(tuple, eng.edges.collect()))
    want_walks = sorted(
        (r.walk_id, tuple(r.path)) for r in eng.walks.collect()
    )
    want_nodes = sorted(map(str, eng.nodes.collect()))
    assert len(want_edges) == 4
    eng._commit(NOW, s)
    assert sorted(map(tuple, eng.edges.collect())) == want_edges
    assert sorted(
        (r.walk_id, tuple(r.path)) for r in eng.walks.collect()
    ) == want_walks
    assert sorted(map(str, eng.nodes.collect())) == want_nodes

    for table in ("walks", "edges", "filters", "nodes"):
        snaps = eng.cat.snapshots(table)
        assert "changed_buckets" in snaps[-1].metrics, table
    walks_snaps = eng.cat.snapshots("walks")
    prev, last = walks_snaps[-2], walks_snaps[-1]
    changed = {f"bucket={b}" for b in last.metrics["changed_buckets"]}
    assert 0 < len(changed) < eng.n_table_buckets

    def inodes(path, entry):
        d = os.path.join(path, entry)
        return {
            os.stat(os.path.join(d, f)).st_ino
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    shared = 0
    for entry in os.listdir(prev.path):
        if entry.startswith("bucket=") and entry not in changed:
            if os.path.isdir(os.path.join(last.path, entry)):
                assert inodes(prev.path, entry) == inodes(last.path, entry)
                shared += 1
    assert shared > 0
    # logical state survives the mixed full/partial commit chain
    eng2 = _mk(spark, tmp_path, "buckets")
    eng2.resume()
    assert sorted(map(str, eng2.walks.collect())) == sorted(
        map(str, eng.walks.collect())
    )
    assert sorted(map(str, eng2.edges.collect())) == sorted(
        map(str, eng.edges.collect())
    )


def test_mint_and_arbiter_flip_same_epoch_commit(spark, tmp_path, monkeypatch):
    """An epoch that BOTH mints new nodes and flips nodes through the
    arbiter must commit a nodes table containing the minted rows AND
    the flips — the delta-composed partial commit rebuilds dirty
    buckets from snapshot+pendings, so an unregistered in-memory-only
    mutation would silently drop rows (trap #13: assert the committed
    chain against the PRE-commit logical state)."""
    from crawler_spark import schemas

    eng = _mk(spark, tmp_path, "mintflip")
    eng.bootstrap([datagen.node_url(i) for i in (0, 1, 2)], NOW)
    # force the arbiter to run this epoch regardless of change ratio;
    # node 0 (visited only by its own 20 walks < demote_thr 21) is a
    # guaranteed demotion, node 9 is a guaranteed mint
    monkeypatch.setattr(schemas, "ARBITER_ACTIVATION_THRESHOLD", 0.0)
    eng.epoch += 1
    s = eng.process_pages(datagen.pages_df(spark, {0: [1, 2, 9]}), NOW)
    s.update(eng.maybe_arbiter(NOW))
    assert s["new_nodes"] == 1
    assert s.get("demoted", 0) or s.get("promoted", 0) or s.get("arbiter")
    want_nodes = sorted(map(str, eng.nodes.collect()))
    want_walks = sorted(map(str, eng.walks.collect()))
    eng._commit(NOW, s)
    assert sorted(map(str, eng.nodes.collect())) == want_nodes
    assert sorted(map(str, eng.walks.collect())) == want_walks
    eng2 = _mk(spark, tmp_path, "mintflip")
    eng2.resume()
    assert sorted(map(str, eng2.nodes.collect())) == want_nodes
    got_urls = {r.url for r in eng2.nodes.select("url").collect()}
    assert datagen.node_url(9) in got_urls  # the mint survived the flip


def test_run_epoch_with_robots(spark, tmp_path):
    """run_epoch with a robots table: disallowed urls flip to
    'blocked', are never fetched, and the frontier falls back to a
    full commit (blocked rows can touch arbitrary host buckets)."""
    import pyspark.sql.functions as Fn

    web, follows = _web(spark)
    eng = _mk(spark, tmp_path, "robots")
    eng.bootstrap([datagen.node_url(i) for i in (0, 1, 2)], NOW)
    robots = spark.createDataFrame(
        [("node1.test", "/", 1.0)],  # block ALL of node1.test
        "host string, disallow_prefix string, crawl_delay_s double",
    )
    s = eng.run_epoch(web, NOW + dt.timedelta(minutes=1), robots=robots)
    st = {
        r.url: r.state for r in eng.frontier.select("url", "state").collect()
    }
    assert st[datagen.node_url(1)] == "blocked"
    assert st[datagen.node_url(0)] == "fetched"
    # blocked url was not fetched -> its follow list never processed
    assert eng.edges.filter(Fn.col("src") == 1).count() == 0
    assert s["scheduled"] == 2


def test_resume_from_checkpoint(spark, tmp_path):
    eng1, order1, _ = _run(spark, tmp_path, "resume", epochs=2)
    # a second engine resumes from the same catalog root
    eng2 = _mk(spark, tmp_path, "resume")
    eng2.resume()
    assert eng2.epoch == eng1.epoch
    for tab in ("nodes", "edges", "walks", "frontier"):
        a = getattr(eng1, tab)
        b = getattr(eng2, tab)
        assert sorted(map(str, a.collect())) == sorted(map(str, b.collect())), tab
    # and continues: one more epoch on the resumed engine works
    web, _ = _web(spark)
    s = eng2.run_epoch(web, NOW + dt.timedelta(minutes=30))
    assert s["scheduled"] >= 0
    assert eng2.epoch == eng1.epoch + 1


def test_standalone_process_pages_never_remints_existing_ids(spark, tmp_path):
    """A caller that assigns engine state directly (no bootstrap/
    resume) still gets collision-free minting: the counter guard
    derives next_node_id from the assigned nodes before the first
    mint (minting passes start_id + known_new and would otherwise
    start at 0, aliasing a discovered url with an existing node)."""
    eng = _mk(spark, tmp_path, "standalone")
    eng.nodes = spark.createDataFrame(
        [
            (0, datagen.node_url(0), "active", NOW, None, None),
            (1, datagen.node_url(1), "active", NOW, None, None),
        ],
        "node_id long, url string, status string, added_ts timestamp, "
        "promoted_ts timestamp, demoted_ts timestamp",
    )
    eng.edges = spark.createDataFrame([], "src long, dst long")
    eng.walks = spark.createDataFrame(
        [(0, 0, [0]), (1, 1, [1])],
        "walk_id long, start_id long, path array<long>",
    )
    eng.epoch += 1
    s = eng.process_pages(datagen.pages_df(spark, {0: [1, 5]}), NOW)
    assert s["new_nodes"] == 1
    ids = {r["url"]: r["node_id"] for r in eng.nodes.collect()}
    assert len(set(ids.values())) == len(ids)  # no aliased ids
    assert ids[datagen.node_url(5)] == 2
    assert eng.next_node_id == 3


def test_run_epoch_with_robots_rules(spark, tmp_path):
    """run_epoch with the full RFC 9309 rule set: a wildcard Disallow
    blocks, a longer Allow overrides, blocked urls are never fetched,
    and the frontier commits in full."""
    import pyspark.sql.functions as Fn

    web, follows = _web(spark)
    eng = _mk(spark, tmp_path, "robots_rules")
    eng.bootstrap([datagen.node_url(i) for i in (0, 1, 2)], NOW)
    rules = spark.createDataFrame(
        [("node1.test", False, "/*")],  # wildcard-block ALL of node1.test
        "host string, allow boolean, pattern string",
    )
    s = eng.run_epoch(
        web, NOW + dt.timedelta(minutes=1), robots_rules=rules
    )
    st = {
        r.url: r.state for r in eng.frontier.select("url", "state").collect()
    }
    assert st[datagen.node_url(1)] == "blocked"
    assert st[datagen.node_url(0)] == "fetched"
    assert eng.edges.filter(Fn.col("src") == 1).count() == 0
    assert s["scheduled"] == 2


def test_crawl_feeds_corpus_pipeline(spark, tmp_path):
    """End-to-end product story: crawl epochs produce fetched pages;
    their EXTRACTED text flows through the training-data layer —
    admission filter, exact dedup, near-dup clustering, PII scrub,
    sequence packing — with every fetched url accounted for exactly
    once and the packing manifest tiling every surviving doc."""
    import pyspark.sql.functions as Fn

    from crawler_spark.functions import extract
    from crawler_spark.ops import dedup as dedup_ops
    from crawler_spark.ops import textstats

    eng, _, _ = _run(spark, tmp_path, "corpus_e2e", epochs=3)
    web, _ = _web(spark)
    fetched_urls = eng.frontier.filter("state = 'fetched'").select("url")
    n_fetched = fetched_urls.count()
    assert n_fetched > 0
    corpus = (
        web.join(fetched_urls, "url")
        .select(
            Fn.xxhash64("url").alias("doc_id"),
            extract.extract_text("html").alias("text"),
        )
    )
    # admission gate: every fetched page yields a verdict row
    gate = textstats.corpus_filter(corpus, min_tokens=1, min_quality=0.0)
    verdicts = gate.collect()
    assert len(verdicts) == n_fetched
    # fixture text is terse, so language-id may reject some pages —
    # but every verdict must be internally consistent
    for v in verdicts:
        assert v.keep == (v.reason is None)
        assert v.reason in (
            None, "short", "repetition", "low_quality", "no_stopwords", "lang"
        )
    # dedup clustering over the crawled corpus: one row per doc,
    # keeper ids are members of their own component
    clusters = dedup_ops.dedup_clusters(corpus, threshold=0.9)
    rows = clusters.collect()
    assert len(rows) == n_fetched
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r.component_id, set()).add(r.doc_id)
    for r in rows:
        assert r.keeper_id in by_comp[r.component_id]
        assert r.is_dup == (r.doc_id != r.keeper_id)
    # the tail of the pipeline: keepers -> PII scrub -> packing
    # manifest; every kept doc's tokens land in the stream exactly
    # once (slices tile [0, n) in order)
    from crawler_spark.ops import packing as packing_ops

    keepers = clusters.filter(~Fn.col("is_dup")).select("doc_id")
    scrubbed = packing_ops.pack_sequences(
        textstats.pii_scrub(corpus.join(keepers, "doc_id")).select(
            "doc_id", Fn.col("clean_text").alias("text")
        ),
        budget=8,
        n_buckets=4,
    )
    slices = {}
    for r in scrubbed.collect():
        slices.setdefault(r.doc_id, []).append((r.doc_from, r.doc_to))
    assert slices, "packing manifest must cover the kept corpus"
    for ivs in slices.values():
        ivs.sort()
        assert ivs[0][0] == 0
        for (f1, t1), (f2, t2) in zip(ivs, ivs[1:]):
            assert t1 == f2
