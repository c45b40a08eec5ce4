"""Gates for the URL-seen layer (bloom/cuckoo + exact verify), the
politeness/priority scheduler, the arbiter (reference
pkg/crawler/arbiter_test.go scenarios), and catalog snapshots."""

import datetime as dt

import pandas as pd
from pyspark.sql import functions as F

from crawler_spark import catalog, datagen, frontier, schemas, seen, walks_gen

NOW = dt.datetime(2025, 6, 1, tzinfo=dt.timezone.utc)


def _urls(prefix, n, host="a.test"):
    return [f"https://{host}/{prefix}{i}" for i in range(n)]


# ---- filters, local semantics ----

def test_bloom_no_false_negatives_and_low_fp():
    f = seen.BloomFilter.sized_for(5000)
    inset = pd.Series(_urls("in", 5000))
    out = pd.Series(_urls("out", 20000))
    f.add(inset)
    assert f.contains(inset).all()
    fp = f.contains(out).mean()
    assert fp < 0.05, fp


def test_cuckoo_add_contains_delete():
    f = seen.CuckooFilter.sized_for(4000)
    inset = pd.Series(_urls("in", 4000))
    fails = f.add(inset)
    assert fails == 0
    assert f.contains(inset).all()
    out = pd.Series(_urls("out", 20000))
    assert f.contains(out).mean() < 0.05
    # delete half; deleted items must be gone (no false negatives on rest)
    half = inset[:2000]
    found = f.delete(half)
    assert found.all()
    assert f.contains(inset[2000:]).all()
    assert f.contains(half).mean() < 0.05


def test_cuckoo_roundtrip_bytes():
    f = seen.CuckooFilter.sized_for(100)
    f.add(pd.Series(_urls("x", 100)))
    g = seen.CuckooFilter.from_bytes(f.nb, f.to_bytes())
    assert (g.table == f.table).all()


# ---- distributed admission ----

def test_admit_new_urls_matches_exact_antijoin(spark):
    hosts = [f"h{i}.test" for i in range(20)]
    seen_urls = [f"https://{hosts[i % 20]}/p{i}" for i in range(3000)]
    cand_urls = [f"https://{hosts[i % 20]}/p{i}" for i in range(1500, 6000)]
    seen_df = spark.createDataFrame([(u,) for u in seen_urls], "url string")
    cand_df = spark.createDataFrame([(u,) for u in cand_urls], "url string")
    filters = seen.build_seen_filters(seen_df, n_buckets=16)
    admitted = seen.admit_new_urls(cand_df, filters, seen_df, n_buckets=16)
    got = sorted(r.url for r in admitted.collect())
    want = sorted(
        r.url for r in cand_df.join(seen_df, "url", "left_anti").collect()
    )
    assert got == want


def test_admit_release_mode_matches_and_releases(spark):
    """eager=False + release: same rows as the default path, the probe
    is persisted exactly once (it feeds both union branches), and the
    caller-side unpersist leaves no cached blocks behind — the engine
    epoch shape must not leak one persist per epoch."""
    hosts = [f"h{i}.test" for i in range(10)]
    seen_urls = [f"https://{hosts[i % 10]}/p{i}" for i in range(1000)]
    cand_urls = [f"https://{hosts[i % 10]}/p{i}" for i in range(500, 2000)]
    seen_df = spark.createDataFrame([(u,) for u in seen_urls], "url string")
    cand_df = spark.createDataFrame([(u,) for u in cand_urls], "url string")
    filters = seen.build_seen_filters(seen_df, n_buckets=8)
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    rel: list = []
    out = seen.admit_new_urls(
        cand_df, filters, seen_df, n_buckets=8, eager=False, release=rel
    )
    got = sorted(r.url for r in out.collect())
    assert len(rel) == 1
    for df in rel:
        df.unpersist(blocking=True)
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after <= before
    want = sorted(
        r.url for r in cand_df.join(seen_df, "url", "left_anti").collect()
    )
    assert got == want


def test_probe_seen_flags(spark):
    seen_df = spark.createDataFrame([(u,) for u in _urls("s", 500)], "url string")
    filters = seen.build_seen_filters(seen_df, n_buckets=4)
    probed = seen.probe_seen(seen_df, filters, n_buckets=4)
    assert probed.filter(~F.col("maybe_seen")).count() == 0  # no false negatives


# ---- scheduler ----

def _frontier_df(spark, rows):
    return spark.createDataFrame(rows, schema=schemas.FRONTIER)


# RFC 9309 rule set with per-host delays; a null pattern carries only
# the host's crawl delay
RULES = "host string, allow boolean, pattern string, crawl_delay_s double"


def test_schedule_politeness_and_priority(spark):
    rows = []
    for h, n in (("a.test", 10), ("b.test", 10)):
        for i in range(n):
            rows.append(
                (f"https://{h}/p{i}", h, None, float(i), NOW, None, "queued")
            )
    fr = _frontier_df(spark, rows)
    robots = spark.createDataFrame(
        [("a.test", False, None, 30.0), ("b.test", False, None, 10.0)], RULES
    )
    batch, fr2 = frontier.schedule_batch(
        fr, robots, NOW, tick_seconds=60.0, batch_size=50
    )
    got = batch.collect()
    by_host = {}
    for r in got:
        by_host.setdefault(r.host, []).append(r)
    # budgets: a.test floor(60/30)=2, b.test floor(60/10)=6
    assert len(by_host["a.test"]) == 2
    assert len(by_host["b.test"]) == 6
    # highest-priority urls of each host picked
    assert {r.url for r in by_host["a.test"]} == {
        "https://a.test/p9", "https://a.test/p8"
    }
    # scheduled rows flipped to fetched
    assert fr2.filter(F.col("state") == "fetched").count() == 8


def test_schedule_robots_block_and_batch_limit(spark):
    rows = [
        (f"https://c.test/p{i}", "c.test", None, float(i), NOW, None, "queued")
        for i in range(10)
    ] + [
        (f"https://d.test/q{i}", "d.test", None, 0.5, NOW, None, "queued")
        for i in range(5)
    ]
    fr = _frontier_df(spark, rows)
    robots = spark.createDataFrame(
        [("c.test", False, "/p", 0.1), ("d.test", False, None, 0.1)], RULES
    )
    batch, fr2 = frontier.schedule_batch(
        fr, robots, NOW, tick_seconds=60.0, batch_size=3
    )
    got = batch.collect()
    # all c.test /p* urls robots-blocked; only d.test scheduled, top 3
    assert all(r.host == "d.test" for r in got)
    assert len(got) == 3
    assert fr2.filter(F.col("state") == "blocked").count() == 10
    # deterministic: url ascending within equal priority
    assert [r.url for r in got] == [
        "https://d.test/q0", "https://d.test/q1", "https://d.test/q2"
    ]


def test_schedule_robots_blocks_http_scheme(spark):
    """Regression: the path offset was hard-coded for 'https://' (8
    chars), so http:// urls kept a shifted path and were NEVER
    robots-blocked. Both schemes must match disallow prefixes."""
    rows = [
        ("http://e.test/private/x", "e.test", None, 1.0, NOW, None, "queued"),
        ("https://e.test/private/y", "e.test", None, 1.0, NOW, None, "queued"),
        ("http://e.test/ok", "e.test", None, 1.0, NOW, None, "queued"),
    ]
    fr = _frontier_df(spark, rows)
    robots = spark.createDataFrame([("e.test", False, "/private", 0.1)], RULES)
    batch, fr2 = frontier.schedule_batch(fr, robots, NOW, 60.0, 50)
    assert [r.url for r in batch.collect()] == ["http://e.test/ok"]
    blocked = {r.url for r in fr2.filter(F.col("state") == "blocked").collect()}
    assert blocked == {"http://e.test/private/x", "https://e.test/private/y"}


def test_schedule_budget_one_arithmetic_with_and_without_rules(spark):
    """The per-host budget is floor(tick / delay) in float arithmetic
    whether or not a rule set is passed: 60 / 0.1 gives 600 slots.
    Python's 60 // 0.1 is 599, which the no-robots path once used
    while a rule set with a crawl_delay_s column gave 600."""
    rows = [
        (f"https://k.test/p{i:03d}", "k.test", None, 1.0, NOW, None, "queued")
        for i in range(700)
    ]
    fr = _frontier_df(spark, rows)
    other = spark.createDataFrame([("other.test", False, "/x", 5.0)], RULES)
    for robots in (None, other):
        batch, _ = frontier.schedule_batch(
            fr, robots, NOW, tick_seconds=60.0, batch_size=1000,
            default_crawl_delay_s=0.1,
        )
        assert batch.count() == 600


def test_schedule_deterministic_across_partitionings(spark):
    rows = [
        (f"https://h{i%7}.test/p{i}", f"h{i%7}.test", None, float(i % 13),
         NOW, None, "queued")
        for i in range(200)
    ]
    fr1 = _frontier_df(spark, rows).repartition(2)
    fr2 = _frontier_df(spark, rows).repartition(17)
    b1, _ = frontier.schedule_batch(fr1, None, NOW, 10.0, 20)
    b2, _ = frontier.schedule_batch(fr2, None, NOW, 10.0, 20)
    assert [r.url for r in b1.collect()] == [r.url for r in b2.collect()]


# ---- arbiter ----

def _nodes_df(spark, rows):
    return spark.createDataFrame(rows, schema=schemas.NODES)


def test_arbiter_scenarios(spark):
    """arbiter.go:166-189: demote active below 1.05*wpn visits; promote
    inactive at/above 0.1*wpn visits once older than the wait period."""
    wpn = 100
    old = NOW - dt.timedelta(hours=2)
    fresh = NOW - dt.timedelta(minutes=5)
    nodes = _nodes_df(spark, [
        (0, "https://n0.test/", "active", old, None, None),    # stays (visits high)
        (1, "https://n1.test/", "active", old, None, None),    # demote (low visits)
        (2, "https://n2.test/", "inactive", old, None, None),  # promote
        (3, "https://n3.test/", "inactive", fresh, None, None),# too new
        (4, "https://n4.test/", "inactive", old, None, None),  # below threshold
    ])
    # visits: node0=200, node1=10, node2=30, node3=500, node4=5
    paths = (
        [(i, 0) for i in range(200)] + [(200 + i, 1) for i in range(10)]
        + [(300 + i, 2) for i in range(30)] + [(400 + i, 3) for i in range(500)]
        + [(1000 + i, 4) for i in range(5)]
    )
    walks = spark.createDataFrame(
        [(wid, n, [n]) for wid, n in paths],
        "walk_id long, start_id long, path array<long>",
    )
    dec = frontier.arbiter_decisions(nodes, walks, NOW, walks_per_node=wpn)
    got = {r.node_id: r.decision for r in dec.collect()}
    assert got == {0: "keep", 1: "demote", 2: "promote", 3: "keep", 4: "keep"}


def test_apply_arbiter_flips_and_walks(spark):
    fx = datagen.FIXTURES["triangle"]
    edges = spark.createDataFrame(fx.edge_list(), "src long, dst long")
    old = NOW - dt.timedelta(hours=2)
    nodes = _nodes_df(spark, [
        (0, "https://node0.test/", "active", old, None, None),
        (1, "https://node1.test/", "inactive", old, None, None),
        (2, "https://node2.test/", "active", old, None, None),
    ])
    walks = walks_gen.generate_walks(
        spark, edges,
        spark.createDataFrame([(0,), (2,)], "node_id long"),
        walks_per_node=20, seed=42,
    ).localCheckpoint()
    dec = frontier.arbiter_decisions(nodes, walks, NOW, walks_per_node=20)
    n2, w2, promoted, cnts, delta = frontier.apply_arbiter(
        spark, walks, edges, dec, NOW, walks_per_node=20, seed=42,
        walk_id_offset=walks_gen.next_walk_id(walks),
        node_bucket_expr=seen.url_bucket(F.col("url"), 8),
    )
    # node1 gets promoted (visited by others' walks), gains 20 walks
    assert [r.node_id for r in promoted.collect()] == [1]
    assert cnts.get("promote") == 1
    st = {r.node_id: r.status for r in n2.collect()}
    assert st[1] == "active"
    assert w2.filter(F.col("start_id") == 1).count() == 20
    assert w2.count() == walks.count() + 20
    # the delta's flipped rows are nodes' rows of the flipped ids, and
    # its bucket sets are url_bucket of the flipped / promoted urls
    flipped = dec.filter(F.col("decision") != "keep")
    ids = [r.node_id for r in flipped.collect()]
    assert 1 in ids
    assert set(delta["flipped_new"].collect()) == set(
        n2.filter(F.col("node_id").isin(ids)).collect()
    )

    def _buckets(df):
        b = seen.url_bucket(F.col("url"), 8).alias("b")
        return sorted({r.b for r in df.select(b).collect()})

    assert delta["node_buckets"] == _buckets(flipped)
    assert delta["promoted_buckets"] == _buckets(promoted)


# ---- catalog snapshots ----

def test_catalog_snapshot_commit_and_resume(spark, tmp_path):
    cat = catalog.Catalog(str(tmp_path / "tables"))
    df1 = spark.range(10).withColumnRenamed("id", "x")
    s1 = cat.write("t", df1, epoch=1, metrics={"rows": 10})
    assert s1.version == 0 and s1.n_rows == 10 and s1.files
    df2 = spark.range(25).withColumnRenamed("id", "x")
    s2 = cat.write("t", df2, epoch=2)
    assert s2.version == 1
    assert cat.current("t").epoch == 2
    assert cat.read(spark, "t").count() == 25
    # time travel
    assert cat.read(spark, "t", version=0).count() == 10
    # crash-safety: an uncommitted version dir is invisible
    import os
    os.makedirs(tmp_path / "tables" / "t" / "v9999")
    assert cat.current("t").version == 1
    # lineage recorded per file
    assert all("bytes" in f for f in s2.files)


def test_probe_seen_executor_side_path_mode(spark, tmp_path):
    """filters_path mode: workers pyarrow-read only their candidate
    buckets from the committed snapshot (no driver collect/broadcast
    of blobs) and must flag exactly what broadcast mode flags."""
    seen_urls = [f"https://h{i % 9}.test/p{i}" for i in range(2000)]
    cand_urls = [f"https://h{i % 9}.test/p{i}" for i in range(1000, 4000)]
    seen_df = spark.createDataFrame([(u,) for u in seen_urls], "url string")
    cand_df = spark.createDataFrame([(u,) for u in cand_urls], "url string")
    filters = seen.build_seen_filters(seen_df, n_buckets=8)
    cat = catalog.Catalog(str(tmp_path / "tables"))
    snap = cat.write("filters", filters, epoch=1, partition_by=["bucket"])

    via_bc = seen.probe_seen(cand_df, filters, 8)
    via_path = seen.probe_seen(
        cand_df, filters, 8, filters_path=snap.path
    )
    a = sorted((r.url, r.maybe_seen) for r in via_bc.collect())
    b = sorted((r.url, r.maybe_seen) for r in via_path.collect())
    assert a == b
    # admission through the path mode equals the exact anti-join
    admitted = seen.admit_new_urls(
        cand_df, filters, seen_df, 8, filters_path=snap.path
    )
    want = sorted(
        r.url for r in cand_df.join(seen_df, "url", "left_anti").collect()
    )
    assert sorted(r.url for r in admitted.collect()) == want


def test_catalog_partial_commit_hardlinks_untouched_buckets(spark, tmp_path):
    """write_partial: only the listed buckets are written; every other
    bucket's files are HARDLINKS of the previous version (byte-
    identical by inode), and the logical table equals the input."""
    import os

    cat = catalog.Catalog(str(tmp_path / "tables"))
    df1 = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).cast("int").alias("bucket")
    )
    s1 = cat.write("t", df1, epoch=1, partition_by=["bucket"])
    # change only bucket 3's rows
    df2 = df1.withColumn(
        "k",
        F.when(F.col("bucket") == 3, F.col("k") + 10000).otherwise(F.col("k")),
    )
    s2 = cat.write_partial("t", df2, [3], epoch=2)
    got = sorted(r.k for r in cat.read(spark, "t").collect())
    want = sorted(r.k for r in df2.collect())
    assert got == want
    assert cat.current("t").metrics["changed_buckets"] == [3]
    # inode identity for untouched buckets; bucket 3 rewritten
    for b in range(7):
        d1, d2 = (
            os.path.join(s.path, f"bucket={b}") for s in (s1, s2)
        )
        ino1 = {os.stat(os.path.join(d1, f)).st_ino
                for f in os.listdir(d1) if f.endswith(".parquet")}
        ino2 = {os.stat(os.path.join(d2, f)).st_ino
                for f in os.listdir(d2) if f.endswith(".parquet")}
        if b == 3:
            assert ino1.isdisjoint(ino2)
        else:
            assert ino1 == ino2, b


def test_incremental_filter_update(spark):
    """update_seen_filters touches only buckets that gained urls:
    membership stays exact-negative-free, untouched buckets are
    byte-identical, and admission equals the exact anti-join."""
    base = [f"https://inc{i % 13}.test/p{i}" for i in range(2000)]
    delta = [f"https://inc{i % 13}.test/p{i}" for i in range(2000, 2600)]
    base_df = spark.createDataFrame([(u,) for u in base], "url string")
    delta_df = spark.createDataFrame([(u,) for u in delta], "url string")
    f0 = seen.build_seen_filters(base_df, n_buckets=8).persist()
    f1, _ = seen.update_seen_filters(f0, delta_df, base_df, n_buckets=8)
    f1 = f1.persist()

    all_df = base_df.unionByName(delta_df)
    probed = seen.probe_seen(all_df, f1, 8)
    assert probed.filter(~F.col("maybe_seen")).count() == 0  # no false negatives

    # untouched buckets byte-identical (delta hosts cover a subset)
    touched = {
        r.bucket for r in delta_df.select(
            seen.url_bucket(F.col("url"), 8).alias("bucket")).distinct().collect()
    }
    b0 = {r.bucket: bytes(r.bits) for r in f0.collect()}
    b1 = {r.bucket: bytes(r.bits) for r in f1.collect()}
    for b in set(b0) - touched:
        assert b0[b] == b1[b], b

    # admission equality on a candidate mix
    cands = spark.createDataFrame(
        [(u,) for u in delta + [f"https://inc{i % 13}.test/q{i}" for i in range(500)]],
        "url string",
    )
    admitted = {
        r.url for r in seen.admit_new_urls(cands, f1, all_df, 8).collect()
    }
    oracle = {r.url for r in cands.join(all_df, "url", "left_anti").collect()}
    assert admitted == oracle


def test_incremental_filter_update_executor_side_path_mode(spark, tmp_path):
    """filters_path maintenance: growing buckets read their previous
    blob executor-side from the committed snapshot — bit-identical
    output to the driver-broadcast form, and the driver never collects
    a blob (poisoned DataFrame.collect on the blob column proves the
    grow path goes through _read_filter_bucket)."""
    base = [f"https://inc{i % 13}.test/p{i}" for i in range(2000)]
    delta = [f"https://inc{i % 13}.test/p{i}" for i in range(2000, 2600)]
    base_df = spark.createDataFrame([(u,) for u in base], "url string")
    delta_df = spark.createDataFrame([(u,) for u in delta], "url string")
    f0 = seen.build_seen_filters(base_df, n_buckets=8).persist()
    cat = catalog.Catalog(str(tmp_path / "tables"))
    snap = cat.write("filters", f0, epoch=1, partition_by=["bucket"])

    f_drv, t_drv = seen.update_seen_filters(f0, delta_df, base_df, n_buckets=8)
    committed = cat.read(spark, "filters").select(
        F.col("bucket").cast("long"), "n_items", "m_bits", "bits"
    )
    # poison blob collection: any .collect() that materializes `bits`
    # driver-side fails the test (metadata-only collects are fine)
    import pyspark.sql.dataframe as _dfm

    orig = _dfm.DataFrame.collect

    def guarded(self):
        assert "bits" not in self.columns, "driver collected filter blobs"
        return orig(self)

    _dfm.DataFrame.collect = guarded
    try:
        f_path, t_path = seen.update_seen_filters(
            committed, delta_df, base_df, n_buckets=8,
            filters_path=snap.path,
        )
        got = {r.bucket: (r.n_items, r.m_bits, bytes(r.bits))
               for r in orig(f_path)}
    finally:
        _dfm.DataFrame.collect = orig
    want = {r.bucket: (r.n_items, r.m_bits, bytes(r.bits))
            for r in f_drv.collect()}
    assert t_path == t_drv
    assert got == want
    f0.unpersist()


def test_incremental_filter_resize_path(spark):
    """A delta that overflows a bucket's capacity triggers a rebuild
    of just that bucket at the right size (still no false negatives)."""
    base = [f"https://only0.test/p{i}" for i in range(100)]
    delta = [f"https://only0.test/p{i}" for i in range(100, 2100)]  # 20x growth
    base_df = spark.createDataFrame([(u,) for u in base], "url string")
    delta_df = spark.createDataFrame([(u,) for u in delta], "url string")
    f0 = seen.build_seen_filters(base_df, n_buckets=4)
    f1, _ = seen.update_seen_filters(f0, delta_df, base_df, n_buckets=4)
    all_df = base_df.unionByName(delta_df)
    probed = seen.probe_seen(all_df, f1, 4)
    assert probed.filter(~F.col("maybe_seen")).count() == 0
    # fp rate still sane after resize
    fresh = spark.createDataFrame(
        [(f"https://only0.test/x{i}",) for i in range(4000)], "url string"
    )
    fp = seen.probe_seen(fresh, f1, 4).filter(F.col("maybe_seen")).count() / 4000
    assert fp < 0.05, fp


def test_admit_canonicalize_folds_variants(spark):
    # seen filters built on CANONICAL urls; messy candidate variants
    # of a seen url must not re-admit, and the two variants of one
    # unseen url must admit exactly once, in canonical form
    seen_urls = [f"https://h{i}.test/p{i}" for i in range(100)]
    seen_df = spark.createDataFrame([(u,) for u in seen_urls], "url string")
    filters = seen.build_seen_filters(seen_df, n_buckets=8)
    cands = spark.createDataFrame(
        [
            ("HTTPS://H3.test:443/p3",),        # seen, messy variant
            ("https://h4.test/p4#frag",),       # seen, fragment
            ("https://new.test/x?b=2&a=1",),    # unseen, variant 1
            ("HTTPS://New.test/x?a=1&b=2",),    # unseen, variant 2 (same)
        ],
        "url string",
    )
    got = sorted(
        r.url
        for r in seen.admit_new_urls(
            cands, filters, seen_df, n_buckets=8, canonicalize=True
        ).collect()
    )
    assert got == ["https://new.test/x?a=1&b=2"]


def test_robots_verdicts_rfc9309(spark):
    rules = spark.createDataFrame(
        [
            ("a.test", False, "/p/"),
            ("a.test", True, "/p/pub/"),   # longer allow overrides
            ("b.test", False, "/*.json"),  # wildcard
            ("c.test", False, "/x$"),      # end anchor
            ("d.test", False, ""),         # empty pattern = no-op
        ],
        "host string, allow boolean, pattern string",
    )
    urls = spark.createDataFrame(
        [(u,) for u in [
            "https://a.test/p/secret",
            "https://a.test/p/pub/ok",
            "https://a.test/other",
            "https://b.test/data/f.json",
            "https://b.test/data/f.html",
            "https://c.test/x",
            "https://c.test/xy",
            "https://d.test/anything",
            "https://e.test/no-rules",
        ]],
        "url string",
    )
    got = {
        r.url: (r.allowed, r.matched_rule)
        for r in frontier.robots_verdicts(urls, rules).collect()
    }
    assert got == {
        "https://a.test/p/secret": (False, "/p/"),
        "https://a.test/p/pub/ok": (True, "/p/pub/"),
        "https://a.test/other": (True, None),
        "https://b.test/data/f.json": (False, "/*.json"),
        "https://b.test/data/f.html": (True, None),
        "https://c.test/x": (False, "/x$"),
        "https://c.test/xy": (True, None),
        "https://d.test/anything": (True, None),
        "https://e.test/no-rules": (True, None),
    }


def test_schedule_batch_with_rfc9309_rules(spark):
    now = dt.datetime(2025, 6, 1, tzinfo=dt.timezone.utc)
    urls = [
        "https://a.test/p/secret",   # disallowed
        "https://a.test/p/pub/ok",   # allow override
        "https://b.test/data/x.json",  # wildcard disallowed
        "https://b.test/ok",
    ]
    fr = frontier.enqueue(
        None,
        spark.createDataFrame(
            [(u, i) for i, u in enumerate(urls)], "url string, node_id long"
        ),
        now,
    )
    rules = spark.createDataFrame(
        [
            ("a.test", False, "/p/", 1.0),
            ("a.test", True, "/p/pub/", 1.0),
            ("b.test", False, "/*.json", 1.0),
        ],
        "host string, allow boolean, pattern string, crawl_delay_s double",
    )
    batch, updated = frontier.schedule_batch(fr, rules, now, batch_size=10)
    assert sorted(r.url for r in batch.collect()) == [
        "https://a.test/p/pub/ok",
        "https://b.test/ok",
    ]
    states = {r.url: r.state for r in updated.collect()}
    assert states["https://a.test/p/secret"] == "blocked"
    assert states["https://b.test/data/x.json"] == "blocked"
    assert states["https://a.test/p/pub/ok"] == "fetched"


ROBOTS_TXT = """\
# comments and blank lines ignored

User-agent: googlebot
Disallow: /google-only/

User-agent: crawler-spark
User-agent: otherbot
Disallow: /private/    # inline comment
Allow: /private/press/
Crawl-delay: 2.5
Disallow:

User-agent: *
Disallow: /everything-else/
"""


def test_parse_robots_group_selection(spark):
    docs = spark.createDataFrame(
        [("a.test", ROBOTS_TXT), ("empty.test", ""), ("junk.test", "no colons here")],
        "host string, robots_txt string",
    )
    # specific agent: longest-matching group (shared by two agents);
    # empty Disallow line is a no-op, crawl-delay rides every rule
    got = sorted(
        (r.host, r.allow, r.pattern, r.crawl_delay_s)
        for r in frontier.parse_robots(docs, user_agent="crawler-spark").collect()
    )
    assert got == [
        ("a.test", False, "/private/", 2.5),
        ("a.test", True, "/private/press/", 2.5),
    ]
    # unknown agent falls to the * group
    star = sorted(
        (r.host, r.allow, r.pattern, r.crawl_delay_s)
        for r in frontier.parse_robots(docs, user_agent="somebody").collect()
    )
    assert star == [("a.test", False, "/everything-else/", None)]


def test_parse_robots_feeds_verdicts(spark):
    docs = spark.createDataFrame(
        [("a.test", ROBOTS_TXT)], "host string, robots_txt string"
    )
    rules = frontier.parse_robots(docs, user_agent="crawler-spark")
    urls = spark.createDataFrame(
        [("https://a.test/private/x",), ("https://a.test/private/press/y",),
         ("https://a.test/open",)],
        "url string",
    )
    got = {r.url: r.allowed for r in frontier.robots_verdicts(urls, rules).collect()}
    assert got == {
        "https://a.test/private/x": False,
        "https://a.test/private/press/y": True,
        "https://a.test/open": True,
    }


def test_catalog_lineage_queryable(spark, tmp_path):
    """lineage()/file_lineage(): the manifest history surfaces as
    DataFrames — full snapshots carry null changed_buckets, partial
    commits list exactly the rewritten buckets, and file_lineage
    marks hardlink-inherited files rewritten=false."""
    cat = catalog.Catalog(str(tmp_path / "tables"))
    df1 = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 4).cast("int").alias("bucket")
    )
    cat.write("t", df1, epoch=1, partition_by=["bucket"])
    df2 = df1.withColumn(
        "k", F.when(F.col("bucket") == 2, F.col("k") + 1000).otherwise(F.col("k"))
    )
    cat.write_partial("t", df2, [2], epoch=2, metrics={"deltas": 25})
    lin = {r.version: r for r in cat.lineage(spark, "t").collect()}
    assert lin[0].changed_buckets is None       # full snapshot
    assert lin[1].changed_buckets == [2]        # partial commit
    assert lin[1].epoch == 2 and lin[1].n_rows == 100
    assert '"deltas": 25' in lin[1].metrics
    fl = cat.file_lineage(spark, "t")
    v1 = {(r.bucket, r.rewritten) for r in fl.filter("version = 1").collect()}
    assert (2, True) in v1
    assert {(b, False) for b in (0, 1, 3)} <= v1
    assert all(r.rewritten for r in fl.filter("version = 0").collect())


def test_catalog_rollback_audit_and_no_version_reuse(spark, tmp_path):
    """Catalog.rollback retires newer snapshots without erasing
    history: the manifest row survives flagged rolled_back (lineage
    audit trail), the retired data dir is gone, version numbers are
    never reused, the next partial commit bases on the rolled-back-to
    snapshot, and vacuum retention counts ACTIVE snapshots only."""
    import json as _json
    import os

    cat = catalog.Catalog(str(tmp_path / "tables"))
    df = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") % 4).cast("int").alias("bucket")
    )
    cat.write("t", df, epoch=1, partition_by=["bucket"])       # v0
    cat.write_partial("t", df, [1], epoch=2)                   # v1
    torn = cat.write_partial("t", df.limit(1), [0], epoch=3)   # v2 (torn)

    assert cat.rollback("t", 1) is True
    assert cat.rollback("t", 1) is False  # idempotent
    assert cat.current("t").version == 1
    assert [s.version for s in cat.snapshots("t")] == [0, 1]
    assert not os.path.isdir(torn.path)
    # audit: the torn commit's manifest row survives, flagged
    lin = {r.version: r for r in cat.lineage(spark, "t").collect()}
    assert '"rolled_back": true' in lin[2].metrics
    assert "rolled_back" not in lin[1].metrics

    # next commit: version 3 (never 2 again), based on v1 not the orphan
    snap = cat.write_partial("t", df, [2], epoch=3)
    assert snap.version == 3
    assert cat.read(spark, "t").count() == 40
    # vacuum window: with keep_versions=3, the three ACTIVE versions
    # (0, 1, 3) all stay readable — the rolled-back row must not
    # consume a retention slot
    assert cat.read(spark, "t", version=0).count() == 40

    # crashed rollback: manifest marked but the data dir survived
    # (crash between manifest commit and rmtree). Versions are never
    # reused, so only vacuum can reclaim it — the next commit must
    # sweep the stranded dir
    os.makedirs(torn.path, exist_ok=True)
    cat.write_partial("t", df, [3], epoch=4)  # v4
    assert not os.path.isdir(torn.path)


def test_parse_robots_merges_tied_groups(spark):
    """RFC 9309 §2.2.1: rules from ALL groups matching the agent at
    the best specificity combine — a second 'User-agent: *' block must
    not be silently ignored, and crawl-delay takes the most
    conservative (max) across the tied groups."""
    txt = (
        "User-agent: *\n"
        "Disallow: /a/\n"
        "Crawl-delay: 1\n"
        "\n"
        "User-agent: *\n"
        "Disallow: /b/\n"
        "Crawl-delay: 3\n"
    )
    docs = spark.createDataFrame(
        [("m.test", txt)], "host string, robots_txt string"
    )
    got = sorted(
        (r.allow, r.pattern, r.crawl_delay_s)
        for r in frontier.parse_robots(docs, user_agent="anybot").collect()
    )
    assert got == [(False, "/a/", 3.0), (False, "/b/", 3.0)]
    # a more specific group still excludes the * groups entirely
    txt2 = txt + "\nUser-agent: anybot\nDisallow: /c/\n"
    docs2 = spark.createDataFrame(
        [("m.test", txt2)], "host string, robots_txt string"
    )
    got2 = sorted(
        (r.allow, r.pattern, r.crawl_delay_s)
        for r in frontier.parse_robots(docs2, user_agent="anybot").collect()
    )
    assert got2 == [(False, "/c/", None)]


def test_cuckoo_build_dedups_and_never_drops(spark):
    """build_seen_filters(kind='cuckoo') must never silently drop an
    insert: >2*SLOTS copies of one url cannot all fit (two buckets of
    four slots), so the pre-fix build discarded the failures and the
    admission gate saw FALSE NEGATIVES. The build now dedups (set
    semantics: one delete removes membership) and grows until every
    fingerprint fits."""
    dup = "https://dup.test/x"
    urls = [dup] * 20 + _urls("ck", 3000)
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    filters = seen.build_seen_filters(df, n_buckets=4, kind="cuckoo")
    probed = seen.probe_seen(df.distinct(), filters, 4, kind="cuckoo")
    assert probed.filter(~F.col("maybe_seen")).count() == 0
    # deduped: the duplicated url counts once
    n = {r.bucket: r.n_items for r in filters.collect()}
    assert sum(n.values()) == 3001


def test_cuckoo_filters_update_and_probe(spark):
    """update_seen_filters(kind='cuckoo'): the grow path adds into
    the existing table, the rebuild path re-sizes with cuckoo
    semantics, untouched buckets stay byte-identical, and membership
    stays exact-negative-free — previously the function applied bloom
    semantics unconditionally, corrupting a cuckoo table."""
    base = [f"https://ck{i % 13}.test/p{i}" for i in range(2000)]
    small = [f"https://ck{i % 13}.test/p{i}" for i in range(2000, 2200)]
    big = [f"https://ck{i % 13}.test/p{i}" for i in range(2200, 6000)]
    base_df = spark.createDataFrame([(u,) for u in base], "url string")
    small_df = spark.createDataFrame([(u,) for u in small], "url string")
    big_df = spark.createDataFrame([(u,) for u in big], "url string")

    f0 = seen.build_seen_filters(base_df, n_buckets=8, kind="cuckoo").persist()
    # small delta: fits capacity -> grow in place
    f1, touched1 = seen.update_seen_filters(
        f0, small_df, base_df, n_buckets=8, kind="cuckoo"
    )
    f1 = f1.persist()
    probed = seen.probe_seen(
        base_df.unionByName(small_df), f1, 8, kind="cuckoo"
    )
    assert probed.filter(~F.col("maybe_seen")).count() == 0
    b0 = {r.bucket: bytes(r.bits) for r in f0.collect()}
    b1 = {r.bucket: bytes(r.bits) for r in f1.collect()}
    for b in set(b0) - touched1:
        assert b0[b] == b1[b], b

    # big delta: exceeds the 1/1.3 load margin -> rebuild at new size
    all_df = base_df.unionByName(small_df).unionByName(big_df)
    f2, _ = seen.update_seen_filters(
        f1, big_df, base_df.unionByName(small_df), n_buckets=8, kind="cuckoo"
    )
    probed2 = seen.probe_seen(all_df, f2, 8, kind="cuckoo")
    assert probed2.filter(~F.col("maybe_seen")).count() == 0
    # rebuilt buckets actually re-sized (bucket count grew somewhere)
    m1 = {r.bucket: r.m_bits for r in f1.collect()}
    m2 = {r.bucket: r.m_bits for r in f2.collect()}
    assert any(m2[b] > m1.get(b, 0) for b in m2)


def test_probe_seen_preserves_caller_bucket_column(spark):
    """A caller's own `bucket` column (e.g. frontier rows bucketed
    under a different n_buckets) must pass through probe_seen
    untouched — the seen layer buckets under a private name."""
    urls = _urls("pb", 50)
    seen_df = spark.createDataFrame([(u,) for u in urls[:25]], "url string")
    filters = seen.build_seen_filters(seen_df, n_buckets=8)
    cand = spark.createDataFrame(
        [(u, 99) for u in urls], "url string, bucket int"
    )
    out = seen.probe_seen(cand, filters, 8)
    rows = out.collect()
    assert all(r.bucket == 99 for r in rows)
    assert sum(r.maybe_seen for r in rows) >= 25


def test_enqueue_dedups_within_batch(spark):
    """A url appearing twice in one enqueue batch must collapse to a
    single frontier row (max priority, min node_id) — duplicates
    would double-count the host's politeness budget and then multiply
    through every scheduler tick's url join."""
    urls = spark.createDataFrame(
        [("https://a.test/x", 1, 0.5), ("https://a.test/x", 2, 0.9),
         ("https://a.test/y", 3, 0.1)],
        "url string, node_id long, priority double",
    )
    fr = frontier.enqueue(None, urls, NOW)
    rows = {r.url: r for r in fr.collect()}
    assert len(rows) == 2
    assert rows["https://a.test/x"].priority == 0.9
    assert rows["https://a.test/x"].node_id == 1
    # and still no re-queue of urls already in the frontier
    fr2 = frontier.enqueue(fr, urls, NOW)
    assert fr2.count() == 2


def test_schedule_empty_disallow_blocks_nothing(spark):
    """A bare 'Disallow:' (empty prefix) disallows NOTHING per RFC
    9309 — previously startswith('') matched every url and banned the
    whole host."""
    rows = [
        (f"https://f.test/p{i}", "f.test", None, 1.0, NOW, None, "queued")
        for i in range(3)
    ]
    fr = _frontier_df(spark, rows)
    robots = spark.createDataFrame([("f.test", False, "", 1.0)], RULES)
    batch, fr2 = frontier.schedule_batch(fr, robots, NOW, 60.0, 50)
    assert batch.count() == 3
    assert fr2.filter(F.col("state") == "blocked").count() == 0


def test_schedule_crawl_delay_zero_is_unthrottled(spark):
    """Crawl-delay 0 means the host opted OUT of throttling: all its
    queued urls fit one tick — previously tick/0 was NULL and
    greatest(1, NULL) clamped the host to the minimum budget of 1."""
    rows = [
        (f"https://g.test/p{i}", "g.test", None, 1.0, NOW, None, "queued")
        for i in range(10)
    ]
    fr = _frontier_df(spark, rows)
    robots = spark.createDataFrame([("g.test", False, None, 0.0)], RULES)
    batch, _ = frontier.schedule_batch(fr, robots, NOW, 60.0, 50)
    assert batch.count() == 10


def test_schedule_multiple_disallow_rows_per_host(spark):
    """A host with SEVERAL disallow rows must block the union of the
    prefixes WITHOUT duplicating its queued rows — the old left join
    duplicated every row per rule, double-counting the politeness
    budget and emitting the same url twice into the batch."""
    rows = [
        ("https://m.test/p1", "m.test", None, 3.0, NOW, None, "queued"),
        ("https://m.test/q1", "m.test", None, 2.0, NOW, None, "queued"),
        ("https://m.test/ok1", "m.test", None, 1.0, NOW, None, "queued"),
        ("https://m.test/ok2", "m.test", None, 0.5, NOW, None, "queued"),
    ]
    fr = _frontier_df(spark, rows)
    robots = spark.createDataFrame(
        [("m.test", False, "/p", 30.0), ("m.test", False, "/q", 30.0)], RULES
    )
    batch, fr2 = frontier.schedule_batch(
        fr, robots, NOW, tick_seconds=60.0, batch_size=50
    )
    got = [r.url for r in batch.collect()]
    # budget floor(60/30)=2, both ok urls scheduled exactly once
    assert sorted(got) == ["https://m.test/ok1", "https://m.test/ok2"]
    blocked = {
        r.url for r in fr2.filter(F.col("state") == "blocked").collect()
    }
    assert blocked == {"https://m.test/p1", "https://m.test/q1"}
    assert fr2.count() == 4  # no row multiplication


def test_enqueue_url_gate_filters_before_frontier(spark):
    """The opt-in pre-fetch gate drops blocked/spam/invalid urls
    BEFORE they enter the frontier (no politeness slot, no robots
    probe, no fetch); default enqueue stays bit-unchanged."""
    import datetime as dt

    urls = spark.createDataFrame(
        [
            ("https://good.test/a", 1),
            ("https://evil.test/b", 2),
            ("https://ok.test/free-casino-download", 3),
            ("ftp://junk", 4),
        ],
        "url string, node_id long",
    )
    blocked = spark.createDataFrame([("evil.test",)], "domain string")
    now = dt.datetime(2025, 1, 1)
    fr = frontier.enqueue(
        None, urls, now,
        url_gate={"blocked_domains": blocked, "max_spam_score": 2},
    )
    assert sorted(r["url"] for r in fr.collect()) == ["https://good.test/a"]
    # gate off: everything enqueues (the pre-existing behavior)
    assert frontier.enqueue(None, urls, now).count() == 4
