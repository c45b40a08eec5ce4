"""Engine-maintained corpus dedup state (sign-at-admission): the
(fp, keeper_id) fingerprint table and (doc_id, band, key) MinHash band
table are catalog-committed state like `visits` — consulted and
appended per admitted batch, never rebuilt (reference semantics:
pkg/crawler/process.go:112-117, state is consulted and updated per
event).

Gates:
 - N-epoch crawl state == one full-corpus run (the engine-loop form of
   test_ops.test_incremental_dedup_matches_full_run);
 - the corpus side is SERVED from the committed tables (poisoned-state
   gate — doctoring the committed band table changes the candidate
   count, proving no re-derivation from text);
 - resume round-trips the state and continues consistently;
 - resume reconciles cross-table epoch skew after a mid-commit crash.
"""

import datetime as dt
import shutil

from pyspark.sql import functions as F

from crawler_spark import datagen, engine
from crawler_spark.ops import dedup as dd

NOW = dt.datetime(2025, 6, 1, tzinfo=dt.timezone.utc)

N_HASHES, N_BANDS, SHINGLE_K = 16, 4, 3


def _web(spark):
    """40-page ring+chords web with planted exact-duplicate texts:
    node 8 (fetched epoch 2) and node 15 (fetched epoch 3) both carry
    node 0's text (node 0 is a seed, fetched epoch 1 and minted id 0,
    so the full-run min-id keeper equals the first-epoch keeper)."""
    follows = {
        i: sorted({(i + 1) % 40, (i + 7) % 40} - {i}) for i in range(40)
    }
    web = datagen.pages_df(spark, follows)
    t0 = web.filter(F.col("url") == datagen.node_url(0)).first()["text"]
    dup_urls = [datagen.node_url(8), datagen.node_url(15)]
    return web.withColumn(
        "text",
        F.when(F.col("url").isin(dup_urls), F.lit(t0)).otherwise(
            F.col("text")
        ),
    )


def _mk(spark, root):
    return engine.CrawlEngine(
        spark,
        root,
        walks_per_node=20,
        n_buckets=8,
        batch_size=10,
        promotion_wait_s=0.0,
        seed=42,
        dedup_hashes=N_HASHES,
        dedup_bands=N_BANDS,
        dedup_shingle_k=SHINGLE_K,
    )


def _run_epochs(eng, web, n, start=0):
    """Drive n epochs, returning (per-epoch stats, ingested urls)."""
    stats, ingested = [], []
    for k in range(start, start + n):
        now = NOW + dt.timedelta(minutes=k + 1)
        stats.append(eng.run_epoch(web, now))
        # the batch run_epoch fetched: the rows it flipped at this tick
        fetched = eng.frontier.filter(
            (F.col("state") == "fetched") & (F.col("fetched_ts") == F.lit(now))
        )
        ingested.append(sorted(r.url for r in fetched.select("url").collect()))
    return stats, ingested


def _ingested_docs(eng, web, ingested):
    """(doc_id, text) of every url fetched across the run (distinct —
    a promoted re-fetch re-signs the same doc)."""
    urls = sorted({u for ep in ingested for u in ep})
    return (
        web.filter(F.col("url").isin(urls))
        .join(eng.nodes.select("url", "node_id"), "url")
        .select(F.col("node_id").alias("doc_id"), "text")
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_dedup_state_matches_full_run(spark, tmp_path):
    web = _web(spark)
    eng = _mk(spark, str(tmp_path / "a"))
    eng.bootstrap([datagen.node_url(i) for i in (0, 1, 2)], NOW)
    stats, ingested = _run_epochs(eng, web, 3)
    docs = _ingested_docs(eng, web, ingested)

    # the planted duplicates were consulted against the stored corpus
    assert sum(s["dup_exact"] for s in stats) >= 2
    assert any(s["neardup_cands"] >= 1 for s in stats)

    # committed fingerprint table == one full-corpus run (keeper = min
    # doc_id: the planted dups' keeper is seed node 0, ingested first)
    got_fps = _rows(eng.cat.read(spark, "doc_fps").select("fp", "keeper_id"))
    want_fps = _rows(dd.corpus_fingerprints(docs))
    assert got_fps == want_fps and len(got_fps) > 0

    # committed band table == signing the whole corpus once
    got_bands = _rows(
        eng.cat.read(spark, "doc_bands").select("doc_id", "band", "key")
    )
    want_bands = _rows(
        dd.band_keys(
            dd.minhash_signatures(
                docs, n_hashes=N_HASHES, k=SHINGLE_K
            ),
            N_HASHES,
            N_BANDS,
        )
    )
    assert got_bands == want_bands and len(got_bands) > 0

    # committed line-count table == line_corpus_counts over the
    # corpus's exact-dedup keepers (the engine counts each distinct
    # content-version once — duplicates never inflate line stats;
    # the keeper set is the ENGINE's, i.e. first-admitted per fp,
    # which on this fixture equals the min-id full-run keeper)
    keepers = (
        eng.cat.read(spark, "doc_fps")
        .select(F.col("keeper_id").alias("doc_id"))
        .distinct()
    )
    got_lines = _rows(
        eng.cat.read(spark, "doc_lines").select("fp", "n_docs")
    )
    want_lines = _rows(
        dd.line_corpus_counts(docs.join(keepers, "doc_id", "left_semi"))
    )
    assert got_lines == want_lines and len(got_lines) > 0
    assert sum(s["line_fps"] for s in stats) == len(got_lines)

    # hence the candidate-pair set derived from the STATE equals the
    # full-corpus banding's candidate set
    b = eng.cat.read(spark, "doc_bands")
    got_pairs = {
        (r.doc_a, r.doc_b)
        for r in b.select(F.col("doc_id").alias("doc_a"), "band", "key")
        .join(
            b.select(F.col("doc_id").alias("doc_b"), "band", "key"),
            ["band", "key"],
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .collect()
    }
    want_pairs = {
        (r.doc_a, r.doc_b)
        for r in dd.lsh_candidate_pairs(
            docs, n_hashes=N_HASHES, bands=N_BANDS, k=SHINGLE_K
        ).collect()
    }
    assert got_pairs == want_pairs and len(got_pairs) > 0


def test_dedup_state_served_from_committed_tables(spark, tmp_path):
    """Poisoned-state gate: doctor the committed band table after
    epoch 2 and the epoch-3 cross candidates vanish — the corpus side
    of the consult step comes from the committed table, never from
    re-shingling past batches' text (which the engine doesn't even
    retain)."""
    web = _web(spark)
    root_a = str(tmp_path / "a")
    eng_a = _mk(spark, root_a)
    eng_a.bootstrap([datagen.node_url(i) for i in (0, 1, 2)], NOW)
    _run_epochs(eng_a, web, 2)

    root_b = str(tmp_path / "b")
    shutil.copytree(root_a, root_b)

    # run A: epoch 3 against the true state — node 15 (epoch-3 fetch)
    # duplicates node 0 (epoch-1), so >= 1 cross candidate
    stats_a, _ = _run_epochs(eng_a, web, 1, start=2)

    # run B: same epoch against a poisoned band table
    eng_b = _mk(spark, root_b)
    eng_b.resume()
    poisoned = eng_b.doc_bands.withColumn(
        "key", F.concat(F.lit("poison-"), F.col("doc_id"), F.col("band"))
    )
    eng_b.cat.write(
        "doc_bands",
        poisoned.withColumn(
            "bucket",
            F.pmod(F.xxhash64(F.col("key")), F.lit(64)).cast("int"),
        ),
        epoch=eng_b.epoch,
        partition_by=["bucket"],
    )
    eng_b.resume()
    stats_b, _ = _run_epochs(eng_b, web, 1, start=2)

    # identical batch both runs; exact side untouched by the poison
    assert stats_a[0]["docs"] == stats_b[0]["docs"] > 0
    assert stats_a[0]["dup_exact"] == stats_b[0]["dup_exact"]
    # the poisoned corpus kills the cross candidates
    assert stats_a[0]["neardup_cands"] > stats_b[0]["neardup_cands"]


def test_resume_round_trips_dedup_state(spark, tmp_path):
    web = _web(spark)
    root = str(tmp_path / "a")
    eng = _mk(spark, root)
    eng.bootstrap([datagen.node_url(i) for i in (0, 1, 2)], NOW)
    _, ingested = _run_epochs(eng, web, 2)

    eng2 = _mk(spark, root)
    eng2.resume()
    assert eng2.last_resume_rollback == []
    assert _rows(eng2.doc_fps.select("fp", "keeper_id")) == _rows(
        eng.doc_fps.select("fp", "keeper_id")
    )
    assert _rows(eng2.doc_bands.select("doc_id", "band", "key")) == _rows(
        eng.doc_bands.select("doc_id", "band", "key")
    )
    assert _rows(eng2.doc_lines.select("fp", "n_docs")) == _rows(
        eng.doc_lines.select("fp", "n_docs")
    )
    # and the resumed engine keeps the full-run invariant going
    _, ing3 = _run_epochs(eng2, web, 1, start=2)
    docs = _ingested_docs(eng2, web, ingested + ing3)
    assert _rows(
        eng2.cat.read(spark, "doc_fps").select("fp", "keeper_id")
    ) == _rows(dd.corpus_fingerprints(docs))
    keepers = (
        eng2.cat.read(spark, "doc_fps")
        .select(F.col("keeper_id").alias("doc_id"))
        .distinct()
    )
    assert _rows(
        eng2.cat.read(spark, "doc_lines").select("fp", "n_docs")
    ) == _rows(
        dd.line_corpus_counts(docs.join(keepers, "doc_id", "left_semi"))
    )


def test_line_state_merges_across_epochs(spark, tmp_path):
    """The doc_lines table is MERGED, not appended: a boilerplate
    footer planted on pages fetched in different epochs must end as
    ONE (fp, n_docs) row whose count SUMS the per-epoch keeper
    contributions — and exact-duplicate copies (node 15 carries node
    0's text verbatim, footer included) must not inflate it."""
    web = _web(spark)
    footer_urls = [datagen.node_url(i) for i in range(0, 40, 3)]
    footer = "  subscribe to our newsletter  "
    web = web.withColumn(
        "text",
        F.when(
            F.col("url").isin(footer_urls),
            F.concat(F.col("text"), F.lit("\n" + footer)),
        ).otherwise(F.col("text")),
    )
    eng = _mk(spark, str(tmp_path / "a"))
    eng.bootstrap([datagen.node_url(i) for i in (0, 1, 2)], NOW)
    stats, ingested = _run_epochs(eng, web, 3)
    docs = _ingested_docs(eng, web, ingested)

    keepers = (
        eng.cat.read(spark, "doc_fps")
        .select(F.col("keeper_id").alias("doc_id"))
        .distinct()
    )
    got = _rows(eng.cat.read(spark, "doc_lines").select("fp", "n_docs"))
    want = _rows(
        dd.line_corpus_counts(docs.join(keepers, "doc_id", "left_semi"))
    )
    assert got == want and len(got) > 0

    # the footer line is one merged row counting each KEEPER once
    fp = {r.fp: r.n_docs for r in eng.doc_lines.collect()}[
        __import__("hashlib").md5(footer.strip().encode()).hexdigest()
    ]
    n_footer_keepers = (
        docs.join(keepers, "doc_id", "left_semi")
        .filter(F.col("text").contains(footer.strip()))
        .count()
    )
    assert fp == n_footer_keepers >= 2
    # the merge path actually ran: some line fp was contributed by
    # more than one epoch (per-epoch batch fps sum past the merged
    # table size), i.e. the commit composed remove-old + add-summed
    assert sum(s["line_fps"] for s in stats) > len(got)


def test_resume_reconciles_cross_table_epoch_skew(spark, tmp_path):
    """A crash mid-commit leaves a subset of tables at epoch N with
    the rest at N-1 (the commits are concurrent actions). Resume must
    anchor every table at the highest epoch ALL of them reached and
    roll the overshooters back — never serve mixed-epoch state."""
    web = _web(spark)
    root = str(tmp_path / "a")
    eng = _mk(spark, root)
    eng.bootstrap([datagen.node_url(i) for i in (0, 1, 2)], NOW)
    _run_epochs(eng, web, 2)
    n_nodes_e2 = eng.nodes.count()

    # simulate the crash: only `nodes` got its epoch-3 commit in
    from crawler_spark import seen

    eng.cat.write(
        "nodes",
        eng.nodes.limit(1).withColumn(
            "bucket", seen.url_bucket(F.col("url"), eng.n_buckets)
        ),
        epoch=eng.epoch + 1,
        partition_by=["bucket"],
    )

    eng2 = _mk(spark, root)
    eng2.resume()
    assert eng2.last_resume_rollback == ["nodes"]
    assert eng2.epoch == 2
    # nodes rolled back to the epoch-2 snapshot, not the 1-row orphan
    assert eng2.nodes.count() == n_nodes_e2
    # the CATALOG rolled back too: with only the in-memory frame
    # rolled back, partition-pruned reads and the next partial
    # commit's hardlink base would still serve the torn snapshot —
    # the next epoch would compose nodes from the 1-row orphan and
    # hardlink the epoch-2 rows away permanently
    assert eng2.cat.current("nodes").epoch == 2
    _run_epochs(eng2, web, 1, start=2)
    assert eng2.nodes.count() >= n_nodes_e2
    eng3 = _mk(spark, root)
    eng3.resume()
    assert eng3.last_resume_rollback == []
    assert eng3.nodes.count() == eng2.nodes.count()


def test_resume_rolls_back_torn_aux_tables(spark, tmp_path):
    """Aux tables (visits, doc_fps, doc_bands) commit in the same
    concurrent pool as the core tables, so they can be torn too:
    resume must cap them at the anchor epoch, roll their catalog
    back past the orphan, and RECORD the rollback."""
    web = _web(spark)
    root = str(tmp_path / "aux")
    eng = _mk(spark, root)
    eng.bootstrap([datagen.node_url(i) for i in (0, 1, 2)], NOW)
    _run_epochs(eng, web, 2)
    fps_e2 = _rows(eng.doc_fps)

    # torn epoch-3 commit reached only doc_fps
    orphan = eng.doc_fps.limit(1).withColumn(
        "bucket", eng._bucket_of_str("fp")
    )
    eng.cat.write("doc_fps", orphan, epoch=eng.epoch + 1,
                  partition_by=["bucket"])

    eng2 = _mk(spark, root)
    eng2.resume()
    assert eng2.last_resume_rollback == ["doc_fps"]
    assert _rows(eng2.doc_fps) == fps_e2
    assert eng2.cat.current("doc_fps").epoch == 2


def test_resume_survives_torn_first_adoption(spark, tmp_path):
    """A crash during the FIRST dedup-state commit can leave doc_fps
    with only a snapshot NEWER than the resume anchor. Resume must
    fall back to the fresh-start path (dropping the orphan), not
    raise forever."""
    web = _web(spark)
    root = str(tmp_path / "first")
    eng = _mk(spark, root)
    eng.bootstrap([datagen.node_url(i) for i in (0, 1, 2)], NOW)
    _run_epochs(eng, web, 2)
    # pre-adoption store: retire every doc_fps snapshot
    eng.cat.rollback("doc_fps", None)

    # torn first-adoption commit: doc_fps exists ONLY at epoch 3
    orphan = spark.createDataFrame(
        [("00" * 16, 0)], engine._TABLES["doc_fps"][1]
    ).withColumn("bucket", eng._bucket_of_str("fp"))
    eng.cat.write("doc_fps", orphan, epoch=eng.epoch + 1,
                  partition_by=["bucket"])

    eng2 = _mk(spark, root)
    eng2.resume()  # must not raise
    assert "doc_fps" in eng2.last_resume_rollback
    assert eng2.cat.current("doc_fps") is None
    assert eng2.doc_fps.count() == 0 and eng2._dirty["doc_fps"] is None


def test_recrawled_keeper_is_not_its_own_duplicate(spark, tmp_path):
    """Re-ingesting unchanged content (a promotion re-fetch) must not
    count the stored keeper as a duplicate of itself (is_dup means
    keeper != doc_id, mirroring incremental_exact_dedup), and must
    append NO new band rows — so the band table's dirty set stays
    empty and its commit is pure hardlinks."""
    web = _web(spark)
    root = str(tmp_path / "rec")
    eng = _mk(spark, root)
    eng.bootstrap([datagen.node_url(i) for i in (0, 1, 2)], NOW)
    (s1,), ingested = _run_epochs(eng, web, 1)
    docs1 = _ingested_docs(eng, web, ingested).localCheckpoint()
    n1 = docs1.count()
    assert s1["docs"] == n1 and s1["dup_exact"] == 0

    bands_dirty_before = set(eng._dirty["doc_bands"] or ())
    s2 = eng._ingest_dedup_state(docs1)
    assert s2["docs"] == n1
    assert s2["dup_exact"] == 0  # every doc IS its stored keeper
    assert set(eng._dirty["doc_bands"] or ()) == bands_dirty_before

    # a genuinely new doc with a KNOWN fp (keeper not in batch) is
    # still a dup
    t0 = web.filter(F.col("url") == datagen.node_url(0)).first()["text"]
    newdoc = spark.createDataFrame([(999, t0)], "doc_id long, text string")
    s3 = eng._ingest_dedup_state(newdoc)
    assert s3["docs"] == 1 and s3["dup_exact"] == 1


def test_resume_rederives_visits_torn_behind_anchor(spark, tmp_path):
    """A crash can land every CORE table at epoch N while the
    concurrent visits commit is torn: min-over-core anchors at N, so
    nothing rolls back, but the stored index is missing epoch N's
    deltas. Unlike the monotone dedup sketches, visits is an EXACT
    index of walks — resume must detect the lag and re-derive from
    walks instead of serving the stale snapshot forward (which would
    skip repair of epoch-N-changed nodes and hardlink the stale
    buckets on the next partial commit)."""
    from crawler_spark import walks_gen

    web = _web(spark)
    root = str(tmp_path / "vb")
    eng = _mk(spark, root)
    eng.bootstrap([datagen.node_url(i) for i in (0, 1, 2)], NOW)
    _run_epochs(eng, web, 2)
    expected = _rows(walks_gen.visits_of(eng.walks))
    total = eng.total_visits

    # simulate: the epoch-2 visits commit never landed
    prev = [
        s for s in eng.cat.snapshots("visits") if s.epoch < eng.epoch
    ][-1]
    assert eng.cat.rollback("visits", prev.version)

    eng2 = _mk(spark, root)
    eng2.resume()
    assert "visits" in eng2.last_resume_rollback
    assert eng2._dirty["visits"] is None  # full write on next commit
    assert _rows(eng2.visits) == expected
    assert eng2.total_visits == total


def test_resume_rejects_mismatched_dedup_params(spark, tmp_path):
    """doc_bands rows are only consultable under the banding scheme
    they were signed with; the corpus text is not retained, so resume
    with different MinHash params must refuse instead of silently
    dead-ending the near-dup consult and interleaving incompatible
    key schemes in one table."""
    import pytest

    web = _web(spark)
    root = str(tmp_path / "pm")
    eng = _mk(spark, root)
    eng.bootstrap([datagen.node_url(i) for i in (0, 1, 2)], NOW)
    _run_epochs(eng, web, 1)

    bad = engine.CrawlEngine(
        spark, root, walks_per_node=20, n_buckets=8, batch_size=10,
        promotion_wait_s=0.0, seed=42,
        dedup_hashes=N_HASHES, dedup_bands=N_BANDS * 2,  # different
        dedup_shingle_k=SHINGLE_K,
    )
    with pytest.raises(ValueError, match="signed with"):
        bad.resume()

    ok = _mk(spark, root)
    ok.resume()  # matching params resume fine
    assert ok.doc_bands.count() == eng.doc_bands.count()


def test_textless_pages_excluded_from_dedup_state(spark, tmp_path):
    """Pages with NULL text (the schema allows them) carry no content
    to dedup: fingerprint(NULL) is NULL, which every corpus equi-join
    MISSES — without the filter each epoch containing a textless page
    would re-append a NULL row, breaking doc_fps' fp-uniqueness
    invariant. They must simply not participate."""
    nulls = [datagen.node_url(0), datagen.node_url(7)]  # epoch 1 + 2
    web = _web(spark).withColumn(
        "text",
        F.when(F.col("url").isin(nulls), F.lit(None)).otherwise(
            F.col("text")
        ),
    )
    eng = _mk(spark, str(tmp_path / "nt"))
    eng.bootstrap([datagen.node_url(i) for i in (0, 1, 2)], NOW)
    (s1, s2), ingested = _run_epochs(eng, web, 2)

    assert datagen.node_url(7) in ingested[1]  # the epoch-2 null page
    assert s1["docs"] == 2  # 3 seeds minus the textless one
    assert eng.doc_fps.filter(F.col("fp").isNull()).count() == 0
    # fp-uniqueness invariant of the corpus table
    assert (
        eng.doc_fps.groupBy("fp").count().filter("count > 1").count() == 0
    )
