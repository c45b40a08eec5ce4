"""Deduplication operators — exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

All built on shuffle-frugal primitives:
 - exact: ONE hash-agg (window-min over the md5 fingerprint) — the
   same shape as the reference's latest-per-key dedup (W1).
 - MinHash+LSH: shingle -> md5 minima per (doc, hash-index) -> band
   keys -> self-join on band key. The self-join touches only rows
   sharing a band bucket — at 100 TB the candidate-pair blowup is
   bounded by bucket sizes, never all-pairs.
 - n-gram Jaccard: exact verification on candidate pairs (or small
   corpora) via shingle-set intersection counts.
 - SimHash: 32-bit bitwise-majority signature from token hashes,
   built entirely from md5/conv column math.
 - embedding near-dup: cosine over float vectors (see similarity.py
   for the bucketed scale path).

The hash primitive is md5 so each operator has an exact DuckDB
oracle (Spark's xxhash64 does not exist there).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .textstats import fingerprint


def exact_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    release: list | None = None,
) -> DataFrame:
    """(doc_id, keeper_id, is_dup): keeper = min doc_id among identical
    normalized texts. Keeper selection is a map-side-combining
    aggregation + join, NOT a window over the fingerprint: a
    degenerate dup group (billions of empty / boilerplate docs sharing
    one fp) would funnel a window's whole partition through one task,
    while the agg ships <= partitions partial minima per fp and the
    join's probe-side skew is split by AQE skew-join. No keyed
    pre-repartition: concentrating raw rows per fp BEFORE the agg
    would defeat exactly that map-side combine.

    Materialization contract (the narrow (id, fp) pass feeds BOTH the
    keeper agg and the join; measured — AQE does NOT reuse the
    exchange across the two subtrees here, so without help the
    normalize+md5 text pass runs once per branch):

    - `release=<list>`: persist the (id, fp) frame and append it to
      `release`; the caller unpersists after its ONE downstream
      action. One text scan — the bench/pipeline shape, and the only
      sane shape at 100 TB where the text column is the dominant I/O.
    - `release=None` (default): fully lazy, no persist anywhere — for
      callers that cannot release (driver-owned contract queries).
      The text pass runs once per branch; everything downstream is
      narrow. Same contract as seen.admit_new_urls.

    No fan_out here (unlike shingling): the normalize+md5 pass is
    ~us/doc, so spreading a single-split scan buys nothing — a
    1-split scan only happens when the corpus is tiny, and at scale
    the scan already yields >= parallelism splits. Measured: the
    added round-robin exchange costs ~0.4s of fixed latency at sf0.1
    for zero win.

    NULL text: fingerprint(NULL) is NULL and the fp equi-join never
    matches NULL keys, so NULL-text rows get NO output row — filter
    or impute upstream (the engine drops them before dedup state,
    engine._ingest_dedup_state)."""
    fps = docs.select(
        F.col(id_col), fingerprint(F.col(text_col)).alias("fp")
    )
    if release is not None:
        fps = fps.persist()
        release.append(fps)
    keepers = fps.groupBy("fp").agg(F.min(id_col).alias("keeper_id"))
    return (
        fps.join(keepers, "fp")
        .select(
            F.col(id_col),
            "keeper_id",
            (F.col(id_col) != F.col("keeper_id")).alias("is_dup"),
        )
    )


def shingle_rows(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """(id, shingle) rows — distinct char k-grams per doc. Arrow-
    batched UDF: python slicing is O(len) per doc where the SQL
    substring path is O(len^2) (measured dominant on long docs)."""
    from pyspark.sql.types import ArrayType, StringType

    from . import fan_out

    docs = fan_out(docs)  # single-split scans otherwise pin the UDF to 1 task

    @F.pandas_udf(ArrayType(StringType()))
    def _sh(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            t = (t or "").lower()
            n = max(len(t) - (k - 1), 1)
            out.append(sorted({t[i : i + k] for i in range(n)}))
        return pd.Series(out, index=text.index, dtype=object)

    return docs.select(
        F.col(id_col), F.explode(_sh(F.col(text_col))).alias("shingle")
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    k: int = 3,
) -> DataFrame:
    """(doc_id, sig: array<string>): permutation-free MinHash —
    collision probability of sig[h] equals the Jaccard similarity of
    the shingle sets.

    One md5 yields FOUR independent 8-hex-char (32-bit) hash words, so
    only ceil(H/4) md5 calls per shingle instead of H (the md5 is the
    per-row hot cost; measured ~2.5x on the LSH headline query).
    sig[h] = min over shingles of word h%4 of md5(shingle || '#' h//4).
    """
    sh = shingle_rows(docs, id_col, text_col, k)
    n_md5 = (n_hashes + 3) // 4
    withs = sh.select(
        F.col(id_col),
        *[
            F.md5(F.concat(F.col("shingle"), F.lit(f"#{j}"))).alias(f"d{j}")
            for j in range(n_md5)
        ],
    )
    mins = withs.groupBy(id_col).agg(
        *[
            F.min(
                F.substring(F.col(f"d{h // 4}"), 8 * (h % 4) + 1, 8)
            ).alias(f"mh{h}")
            for h in range(n_hashes)
        ]
    )
    return mins.select(
        F.col(id_col), F.array(*[f"mh{h}" for h in range(n_hashes)]).alias("sig")
    )


def band_keys(
    sig: DataFrame,
    n_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, band, key) LSH band rows from a signature table — the
    join key side of the banding scheme, factored out so a STORED
    signature table (sign-once-at-admission) can band without
    re-shingling its documents."""
    assert n_hashes % bands == 0
    r = n_hashes // bands
    return sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "|", *[F.element_at("sig", b * r + i + 1) for i in range(r)]
                        ).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def lsh_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    release: list | None = None,
) -> DataFrame:
    """(doc_a, doc_b) with doc_a < doc_b sharing >= 1 LSH band. Rows
    per band bucket join only within the bucket (banding theorem:
    P[candidate] = 1-(1-J^r)^b with r = n_hashes/bands).

    `release=<list>` persists the narrow band rows (they feed BOTH
    self-join sides, and AQE does not reuse the exchange across
    branches — see exact_dedup), so the shingle+sign text pass runs
    once instead of twice; the caller unpersists after its one
    downstream action."""
    sig = minhash_signatures(docs, id_col, text_col, n_hashes, k)
    band_rows = band_keys(sig, n_hashes, bands, id_col)
    if release is not None:
        band_rows = band_rows.persist()
        release.append(band_rows)
    a = band_rows.select(F.col(id_col).alias("doc_a"), "band", "key")
    b = band_rows.select(F.col(id_col).alias("doc_b"), "band", "key")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
    release: list | None = None,
) -> DataFrame:
    """(doc_a, doc_b, jaccard) for pairs with shingle-set Jaccard >=
    threshold, doc_a < doc_b. Exact: |A∩B| from a shingle equi-join,
    sizes from one agg, J = inter / (|A|+|B|-inter).

    `candidates` (doc_a, doc_b) restricts verification to those pairs
    — the 100-TB form: pipe LSH candidates in and the join cost is
    |candidates| x doc length, never the raw shingle self-join (a
    common 3-gram like 'the' makes that quadratic/skewed at corpus
    scale; VERDICT r1). Without candidates the raw self-join remains
    as the small-corpus / oracle form.

    `release=<list>` persists the shingle rows — they feed the sizes
    agg AND both intersection sides, so the dominant Arrow shingling
    pass runs once instead of three times (same contract as
    exact_dedup); the caller unpersists after its one action."""
    sh = shingle_rows(docs, id_col, text_col, k)
    if release is not None:
        sh = sh.persist()
        release.append(sh)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    if candidates is not None:
        cand = candidates.select("doc_a", "doc_b").distinct()
        ash = sh.select(F.col(id_col).alias("doc_a"), "shingle")
        bsh = sh.select(F.col(id_col).alias("doc_b"), "shingle")
        inter = (
            cand.join(ash, "doc_a")
            .join(bsh, ["doc_b", "shingle"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("inter"))
        )
    else:
        a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
        b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
        inter = (
            a.join(b, "shingle")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("inter"))
        )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = 64,
) -> DataFrame:
    """(doc_id, simhash: long): n_bits-bit SimHash — for each bit, the
    majority vote over the doc's token hashes (md5 -> 32-bit hex
    words; bit b reads word b//32). Near-dups differ in few bits.

    64 bits is the corpus-scale default: a 32-bit signature is
    collision-prone at 10^10 docs (VERDICT r1). Bit 63 is the sign
    bit of the long, so it contributes -2^63 arithmetically — the
    exact construction the DuckDB oracle mirrors (BIGINT << 63
    overflows there, so neither engine shifts).

    Pure column math: explode tokens, one groupBy summing per-bit
    votes via shiftright/bitwise-and, then recombine."""
    assert n_bits in (32, 64)
    from . import fan_out

    docs = fan_out(docs)  # md5-per-token projection; spread single-split scans
    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), "\\s+")).alias("tok"),
    ).filter(F.length("tok") > 0)
    words = [
        F.conv(F.substring(F.md5("tok"), 8 * w + 1, 8), 16, 10).cast("long")
        for w in range((n_bits + 31) // 32)
    ]
    withbits = toks.select(
        F.col(id_col),
        *[
            (F.shiftright(words[b // 32], b % 32) % 2).alias(f"b{b}")
            for b in range(n_bits)
        ],
    )
    agg = withbits.groupBy(id_col).agg(
        F.count("*").alias("n"),
        *[F.sum(f"b{b}").alias(f"s{b}") for b in range(n_bits)],
    )
    sim = None
    for b in range(n_bits):
        weight = -(2**63) if b == 63 else 2**b
        bit = F.when(F.col(f"s{b}") * 2 >= F.col("n"), F.lit(1)).otherwise(
            F.lit(0)
        ).cast("long") * F.lit(weight).cast("long")
        sim = bit if sim is None else sim + bit
    return agg.select(F.col(id_col), sim.alias("simhash"))


def simhash32(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """32-bit variant (kept for compactness-sensitive callers)."""
    return simhash(docs, id_col, text_col, n_bits=32)


def simhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_bits: int = 64,
) -> DataFrame:
    """(doc_a, doc_b, hamming) for pairs within `max_hamming` bits of
    SimHash, doc_a < doc_b.

    Pigeonhole banding: split the signature into n_bits/8 bytes; any
    pair within n_bits/8 - 1 bits must agree on >= 1 byte, so
    candidates come from the per-byte equi-joins on (band, byte) —
    never all-pairs — then exact hamming via bit_count(xor). The
    band byte is (simhash >> 8b) & 255 — the mask keeps arithmetic
    sign-extension of the top band out of the key."""
    n_bands = n_bits // 8
    assert max_hamming < n_bands, "pigeonhole needs max_hamming < bands"
    sig = simhash(docs, id_col, text_col, n_bits=n_bits)
    bands = sig.select(
        F.col(id_col),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", 8 * b)
                        .bitwiseAND(F.lit(255))
                        .alias("byte"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "simhash", F.col("bk.band").alias("band"),
             F.col("bk.byte").alias("byte"))
    a = bands.select(
        F.col(id_col).alias("doc_a"), F.col("simhash").alias("sa"),
        "band", "byte",
    )
    b = bands.select(
        F.col(id_col).alias("doc_b"), F.col("simhash").alias("sb"),
        "band", "byte",
    )
    return (
        a.join(b, ["band", "byte"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b",
            F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """(id_a, id_b, cos) with cosine >= threshold, id_a < id_b.
    Brute-force form (correctness baseline); the bucketed scale path
    is similarity.cosine_topk's LSH variant."""
    from .similarity import cosine_expr

    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cosine_expr(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def _within_cell_pairs(
    assigned: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
) -> DataFrame:
    """(id_a, id_b, cos) with id_a < id_b over an already
    cell-assigned frame — the self-join is keyed on `cell`, so the
    pair space is sum(|cell|^2), never |corpus|^2."""
    from .similarity import cosine_expr

    a = assigned.select(
        F.col(id_col).alias("id_a"), "cell", F.col(vec_col).alias("va")
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"), "cell", F.col(vec_col).alias("vb")
    )
    return (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cosine_expr(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def semantic_dedup_pairs(
    emb: DataFrame,
    n_cells: int = 16,
    threshold: float = 0.95,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_iters: int = 2,
    centroids: DataFrame | None = None,
    release: list | None = None,
) -> DataFrame:
    """(id_a, id_b, cos): SemDeDup-style semantic near-duplicate
    CANDIDATE pairs (Abbas et al., "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication", 2023): k-means the
    embedding space into cells, then compare pairs ONLY within a
    cell. Two embeddings are semantic duplicates when their cosine
    >= threshold; by construction no pair crosses a cell boundary —
    exactly the published semantics, which trades the O(N^2) brute
    relation (embedding_near_dup_pairs, the labeled small-corpus
    baseline) for O(sum |cell|^2).

    Scale shape: training is kmeans_centroids (one corpus scan per
    Lloyd round, zero shuffles); assignment is assign_cells (one
    map-side Arrow matmul, zero shuffles); the only shuffle is the
    cell-keyed self-join. The skew bound is the largest cell —
    `n_cells` is the knob (SemDeDup uses ~sqrt(N)-ish cluster counts
    at web scale), and a trained `centroids` table can be persisted
    and reused across crawl epochs exactly like the IVF index
    (train once, serve many; see ivf_topk).

    `release=<list>`: persist the assigned (id, cell, vec) frame —
    it feeds BOTH sides of the self-join, so the lazy form pays the
    assignment matmul twice. `release=None` stays fully lazy for
    driver-owned contract queries. NULL embeddings are excluded (a
    NULL vector has no cell)."""
    from .similarity import assign_cells, kmeans_centroids

    vecs = emb.filter(F.col(vec_col).isNotNull())
    cent = (
        centroids
        if centroids is not None
        else kmeans_centroids(
            vecs, n_cells, n_iters=n_iters, seed=seed,
            id_col=id_col, vec_col=vec_col,
        )
    )
    assigned = assign_cells(vecs, cent, id_col, vec_col)
    if release is not None:
        assigned = assigned.persist()
        release.append(assigned)
    return _within_cell_pairs(assigned, id_col, vec_col, threshold)


def semantic_dedup(
    emb: DataFrame,
    n_cells: int = 16,
    threshold: float = 0.95,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_iters: int = 2,
    centroids: DataFrame | None = None,
    release: list | None = None,
) -> DataFrame:
    """(vec_id, component_id, keeper_id, is_dup): the full SemDeDup
    pipeline — within-cell cosine pairs (semantic_dedup_pairs),
    connected components to close the duplicate relation transitively
    within a cell, and ONE embedding kept per duplicate group: the
    member with the LOWEST cosine to its cell centroid (Abbas et
    al.'s keeper rule — the group's least-typical example preserves
    the most diversity), ties to the smallest id. Every input row
    with a non-NULL vector gets an output row; singletons are their
    own component and keeper.

    Components never span cells (pairs are within-cell by
    construction), so the keeper argmin is well-defined against one
    centroid. Keeper selection is a min_by aggregation, not a window
    — a giant near-duplicate group (the boilerplate-embedding case)
    must not funnel one task."""
    from .similarity import assign_cells, cosine_expr, kmeans_centroids

    vecs = emb.filter(F.col(vec_col).isNotNull())
    cent = (
        centroids
        if centroids is not None
        else kmeans_centroids(
            vecs, n_cells, n_iters=n_iters, seed=seed,
            id_col=id_col, vec_col=vec_col,
        )
    )
    assigned = assign_cells(vecs, cent, id_col, vec_col)
    if release is not None:
        assigned = assigned.persist()
        release.append(assigned)
    pairs = _within_cell_pairs(assigned, id_col, vec_col, threshold)
    cc = connected_components(pairs, "id_a", "id_b", release=release)
    scored = (
        assigned.join(F.broadcast(cent), "cell")
        .select(
            F.col(id_col),
            cosine_expr(F.col(vec_col), F.col("centroid")).alias("_cos_c"),
        )
    )
    base = (
        scored.join(cc, F.col(id_col) == F.col("node"), "left")
        .select(
            F.col(id_col),
            F.coalesce("component_id", F.col(id_col)).alias("component_id"),
            "_cos_c",
        )
    )
    keepers = base.groupBy("component_id").agg(
        F.min_by(
            F.col(id_col), F.struct(F.col("_cos_c"), F.col(id_col))
        ).alias("keeper_id")
    )
    return (
        base.join(keepers, "component_id")
        .select(
            F.col(id_col),
            "component_id",
            "keeper_id",
            (F.col(id_col) != F.col("keeper_id")).alias("is_dup"),
        )
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 50,
    stats: dict | None = None,
    release: list | None = None,
) -> DataFrame:
    """(node, component_id) for every node appearing in `pairs`;
    component_id = the minimum node id reachable through the pair
    graph. Alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — the
    published O(log^2 n)-round, shuffle-only CC algorithm. Each round
    is two hash-aggregations plus co-partitioned self-joins keyed on
    node id; no collect, no per-row Python, and — unlike naive label
    propagation — a giant component converges without ever funneling
    its whole edge set through one task (the stars re-balance the
    degree skew every round). Lineage is truncated per round
    (localCheckpoint) so the plan stays flat across iterations.

    Convergence is detected by an order-independent edge-set digest
    (count + sum of xxhash64(u, v)); at the fixpoint the edge set is
    exactly the star forest u -> component-min. Exiting via the
    `max_iters` cutoff WITHOUT reaching the digest fixpoint raises —
    the final groupBy-min does not close the relation transitively,
    so a truncated run would silently return under-merged components
    (wrong clusters are worse than a loud failure; raise the ceiling
    for pathological diameters). `stats`, when given, receives
    {"rounds": n, "converged": bool}.

    Checkpoint storage is bounded at ONE live edge-set copy: each
    round frees the previous round's checkpoint blocks as soon as the
    new round is materialized (DataFrame.unpersist is a no-op for
    checkpoints — without the explicit free, a billion-edge run holds
    every round's edge set in the BlockManager until driver GC).
    `release=<list>` receives a handle for the FINAL checkpoint (the
    returned plan reads it); unpersist after the one downstream
    action, exactly like the persisted frames the other release
    contracts append. With `release=None` the final block is left to
    GC (driver-owned contract queries).
    """
    from ..session import CheckpointHandle, free_local_checkpoint

    edges = (
        pairs.select(
            F.col(a_col).cast("long").alias("u"),
            F.col(b_col).cast("long").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def digest(e: DataFrame) -> tuple:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),
            F.bit_xor(F.xxhash64("v", "u", F.lit(7))).alias("h2"),
        ).collect()[0]
        return (row["n"], row["h"], row["h2"])

    prev = None
    converged = False
    rounds = 0
    for _ in range(max_iters):
        rounds += 1
        # large-star: connect every neighbor u > v to m = min(N(v) + {v})
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        lmin = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", "u").alias("m"))
        )
        large = (
            sym.join(lmin, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: edges now point larger -> smaller; fold every
        # smaller neighbor (and the center) onto the minimum
        dir_ = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        smin = dir_.groupBy("u").agg(F.min("v").alias("m"))
        new_edges = (
            dir_.join(smin, "u")
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("u").alias("a"), F.col("m").alias("b")),
                        F.struct(F.col("v").alias("a"), F.col("m").alias("b")),
                    )
                ).alias("e")
            )
            .select(F.col("e.a").alias("u"), F.col("e.b").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # the new round is materialized (eager) — the previous
        # round's checkpoint blocks are dead; free them now instead
        # of holding every round's edge set until driver GC
        free_local_checkpoint(edges)
        edges = new_edges
        cur = digest(edges)
        if cur == prev:
            converged = True
            break
        prev = cur
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = converged
    if not converged:
        free_local_checkpoint(edges)
        raise RuntimeError(
            f"connected_components did not reach the star-forest "
            f"fixpoint in max_iters={max_iters} rounds — returning "
            f"would silently under-merge components; raise max_iters"
        )
    if release is not None:
        release.append(CheckpointHandle(edges))

    stars = edges.groupBy(F.col("u").alias("node")).agg(
        F.min("v").alias("component_id")
    )
    # the component minimum only ever appears on the v side of the
    # star forest — add it back as its own member
    roots = stars.select(
        F.col("component_id").alias("node"), "component_id"
    ).distinct()
    out = stars.unionByName(roots)
    # every-node contract: a node appearing ONLY in self-pairs (u==v,
    # filtered before the star rounds) has no star edge — it is its
    # own singleton component, not silently absent
    all_nodes = (
        pairs.select(F.col(a_col).cast("long").alias("node"))
        .unionByName(pairs.select(F.col(b_col).cast("long").alias("node")))
        .distinct()
    )
    singletons = all_nodes.join(out.select("node"), "node", "left_anti").select(
        "node", F.col("node").alias("component_id")
    )
    return out.unionByName(singletons)


def dedup_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    threshold: float = 0.6,
    pairs: DataFrame | None = None,
    release: list | None = None,
) -> DataFrame:
    """(doc_id, component_id, keeper_id, is_dup): the full corpus
    dedup pipeline — LSH banding proposes candidate pairs, exact
    n-gram Jaccard verifies them, connected components closes the
    near-dup relation transitively (A~B, B~C => one cluster even when
    A,C share no band), and ONE document per cluster is kept: the
    longest text, ties to the smallest doc_id (the standard
    keep-the-longest training-data heuristic). Singleton documents
    are their own component and keeper.

    `pairs` overrides the built-in LSH+Jaccard pipeline with a
    precomputed (doc_a, doc_b) near-dup relation (e.g. simhash or
    embedding pairs) — clustering composes with any pair source.

    `release=<list>` threads the persist-and-release contract through
    the built-in pipeline (band rows + shingle rows), cutting the
    Arrow shingling passes over the corpus text from ~5 to 2; omit it
    only for driver-owned contract queries that cannot release.
    """
    if pairs is None:
        cand = lsh_candidate_pairs(
            docs, id_col, text_col, n_hashes, bands, k, release=release
        )
        pairs = ngram_jaccard_pairs(
            docs, id_col, text_col, k, threshold, candidates=cand,
            release=release,
        )
    cc = connected_components(pairs, "doc_a", "doc_b", release=release)
    base = (
        docs.select(F.col(id_col), F.length(text_col).alias("_tl"))
        .join(cc, F.col(id_col) == F.col("node"), "left")
        .select(
            F.col(id_col),
            F.coalesce("component_id", F.col(id_col)).alias("component_id"),
            "_tl",
        )
    )
    # keeper via max_by aggregation (argmax of (len, -id): longest
    # text, ties to smallest id), not a window — a giant boilerplate
    # cluster must not funnel one task (partial aggregation ships
    # <= partitions candidate rows per component)
    keepers = base.groupBy("component_id").agg(
        F.max_by(
            F.col(id_col), F.struct(F.col("_tl"), (-F.col(id_col)).alias("_n"))
        ).alias("keeper_id")
    )
    return (
        base.join(keepers, "component_id")
        .select(
            F.col(id_col),
            "component_id",
            "keeper_id",
            (F.col(id_col) != F.col("keeper_id")).alias("is_dup"),
        )
    )


def incremental_exact_dedup(
    new_docs: DataFrame,
    corpus_fps: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact dedup of an INCOMING batch against an accumulated corpus
    — the per-crawl-batch pipeline shape: the corpus is represented
    only by its stored (fp, keeper_id) fingerprint table, never
    re-scanned or re-hashed. A new doc is a dup of the corpus keeper
    when its fingerprint is already known, else of the smallest-id
    doc in its own batch sharing the fingerprint.

    Returns (id, keeper_id, is_dup) for the batch rows. 100 TB shape:
    the corpus is consulted in TWO broadcast-friendly steps — a
    left_semi that streams the (fp-bucketed, partition-prunable)
    corpus past the broadcast batch keys, yielding the delta-sized
    `hits` slice, then a left-outer of the batch against broadcast
    `hits`. A direct batch-left-outer-corpus join could never
    broadcast the batch (the preserved side can't be the build side),
    so the corpus would shuffle; this decomposition keeps the corpus
    streamed/probed, never shuffled. Within-batch keepers come from
    one map-side-combining agg (no window; see exact_dedup). NULL
    text: as in exact_dedup, NULL-text rows get no output row —
    filter upstream."""
    fps = new_docs.select(
        F.col(id_col), fingerprint(F.col(text_col)).alias("fp")
    )
    batch_keep = fps.groupBy("fp").agg(
        F.min(id_col).alias("_batch_keeper")
    )
    hits = corpus_fps.select(
        "fp", F.col("keeper_id").alias("_corpus_keeper")
    ).join(batch_keep.select("fp"), "fp", "left_semi")
    return (
        fps.join(hits, "fp", "left")
        .join(batch_keep, "fp")
        .select(
            F.col(id_col),
            F.coalesce("_corpus_keeper", "_batch_keeper").alias("keeper_id"),
            (
                F.col(id_col)
                != F.coalesce("_corpus_keeper", "_batch_keeper")
            ).alias("is_dup"),
        )
    )


def corpus_fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(fp, keeper_id) fingerprint table of a corpus — the stored
    side of incremental_exact_dedup (build once at admission, then
    maintain by appending each admitted batch's new fingerprints)."""
    return (
        docs.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keeper_id"))
    )


def incremental_lsh_pairs(
    new_docs: DataFrame,
    corpus_sigs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
) -> DataFrame:
    """(new_id, corpus_id) near-dup CANDIDATES between an incoming
    batch and an already-signed corpus. Only the batch is shingled
    and signed; the corpus participates through its stored MinHash
    signature table (minhash_signatures output, persisted at
    admission — sign once, serve every later batch). The band join
    touches only buckets the batch's keys land in: at 100 TB the
    corpus band table is bucketed by key and the delta-sized batch
    side broadcasts, so no corpus shuffle and no corpus re-shingling
    per batch. Same banding scheme as lsh_candidate_pairs — the
    candidate set equals the (batch x corpus) cross-side subset of a
    full-corpus run (gated in tests)."""
    new_sigs = minhash_signatures(new_docs, id_col, text_col, n_hashes, k)
    nb = band_keys(new_sigs, n_hashes, bands, id_col).select(
        F.col(id_col).alias("new_id"), "band", "key"
    )
    cb = band_keys(corpus_sigs, n_hashes, bands, id_col).select(
        F.col(id_col).alias("corpus_id"), "band", "key"
    )
    return (
        nb.join(cb, ["band", "key"])
        # a re-crawled doc (same id re-admitted, the normal epoch
        # flow) matches its OWN stored signature in every band — a
        # doc is not a near-dup candidate of itself
        .filter(F.col("new_id") != F.col("corpus_id"))
        .select("new_id", "corpus_id")
        .distinct()
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 16,
    w: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowed rolling-hash document fingerprints (Schleimer,
    Wilkerson & Aiken, "Winnowing: Local Algorithms for Document
    Fingerprinting", SIGMOD 2003): hash every k-char gram of the
    case/punctuation-normalized text, slide a window of w
    consecutive gram hashes, and keep each window's minimum. The
    winnowing guarantee: any shared substring of length >= w + k - 1
    between two documents yields at least one SHARED fingerprint, at
    an expected density of ~2/(w+1) fingerprints per position — the
    local (position-robust) complement to the whole-document
    `fingerprint()` the admission path consults (reference analog:
    content-hash consult at admission, pkg/crawler/process.go:112).

    Scale shape: everything up to the final distinct is a per-doc
    column expression (higher-order array functions over one
    projection of the normalized text — each gram is hashed exactly
    once, no explode of the gram stream, no shuffle, no Python);
    the (doc_id, fp) distinct is the only exchange. md5 is used as
    the gram hash so the op has an exact DuckDB oracle.

    Returns distinct (doc_id, fp) rows; documents whose normalized
    text is shorter than k produce no rows.
    """
    norm = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", "")
    grams = docs.select(F.col(id_col), norm.alias("_norm")).where(
        F.length("_norm") >= k
    ).select(
        id_col,
        F.expr(
            f"transform(sequence(1, length(_norm) - {k} + 1), "
            f"i -> md5(substr(_norm, i, {k})))"
        ).alias("_hashes"),
    )
    return grams.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, greatest(size(_hashes) - {w} + 1, 1)), "
                    f"j -> array_min(slice(_hashes, j, {w})))"
                )
            )
        ).alias("fp"),
    ).distinct()


def winnow_candidate_pairs(
    docs: DataFrame,
    k: int = 16,
    w: int = 16,
    min_shared: int = 2,
    max_df: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    release: list | None = None,
) -> DataFrame:
    """(doc_a, doc_b, shared) pairs of documents sharing >= min_shared
    winnowed fingerprints — the Moss-style local-overlap candidate
    set (detects copied PASSAGES, which whole-document MinHash
    dilutes away on long documents).

    Skew guard for 100 TB: fingerprints occurring in more than
    max_df documents are stop-fingerprints (site boilerplate) and are
    dropped BEFORE the self-join — the over-df set is tiny, so it
    broadcasts into an anti join and the quadratic bucket blowup on
    universal fps never happens; the remaining self-join is bounded
    by max_df^2 per fingerprint, the same bucket-cap argument as the
    LSH band join.

    Materialization contract (same as exact_dedup's: the fps frame
    feeds the stop-fp aggregation AND both self-join sides, and AQE
    does not reuse the exchange across branches): `release=<list>`
    persists the winnowed fingerprints — ONE md5-per-gram text pass
    instead of three — and appends the persisted frame for the caller
    to unpersist after its one downstream action; `release=None`
    stays fully lazy (driver-owned contract queries)."""
    fps = winnow_fingerprints(docs, k=k, w=w, id_col=id_col, text_col=text_col)
    if release is not None:
        fps = fps.persist()
        release.append(fps)
    stop = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > max_df)
        .select("fp")
    )
    kept = fps.join(F.broadcast(stop), "fp", "left_anti")
    a = kept.select(F.col(id_col).alias("doc_a"), "fp")
    b = kept.select(F.col(id_col).alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared"))
        .where(F.col("shared") >= min_shared)
    )


def line_dedup(
    docs: DataFrame,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    release: list | None = None,
) -> DataFrame:
    """(id, clean_text, n_lines_removed): cross-document line-level
    dedup — the CCNet/Dolma boilerplate-removal pass. A non-blank
    line whose trimmed content appears in >= min_docs DISTINCT
    documents is site boilerplate (nav bars, cookie banners,
    copyright footers) and every occurrence is dropped; surviving
    lines rejoin in original order. Blank/whitespace-only lines are
    document structure, never candidates, always kept. This is the
    ACROSS-corpus complement of repetition_stats' within-document
    signals: a line repeated 5x inside one doc is repetition, not
    boilerplate.

    Scale shape: two shuffles total — one partial-aggregated
    groupBy(line-md5) to find the boilerplate set (map-side combine
    collapses each doc's duplicate lines before the exchange via the
    distinct-count partial), one groupBy(doc) to reassemble; the
    boilerplate table is the join's build side (delta-sized relative
    to the corpus — AQE broadcasts it when small). Per-doc state in
    the reassembly is bounded by the doc's own line count. NULL text:
    as in exact_dedup, NULL-text rows get no output row — filter
    upstream.

    Materialization contract (the repo-wide persist-and-release
    shape): the exploded lines frame feeds the boilerplate agg AND
    the reassembly join, so the lazy form splits/explodes the text
    twice. `release=<list>` persists the lines frame — one explode
    pass — and appends it for the caller to unpersist after its one
    downstream action; `release=None` stays lazy (driver-owned
    contract queries)."""
    lines = _line_rows(docs, id_col, text_col)
    if release is not None:
        lines = lines.persist()
        release.append(lines)
    boiler = (
        lines.filter(F.col("_t") != "")
        .groupBy(F.md5("_t").alias("_fp"))
        .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_fp", F.lit(True).alias("_boiler"))
    )
    return _reassemble_lines(lines, boiler, id_col)


def _line_rows(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, pos, line, _t): one row per split line with its trimmed
    form — the shared explode pass of the line-dedup family."""
    return docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("_t", F.trim(F.col("line")))


def _reassemble_lines(
    lines: DataFrame, boiler: DataFrame, id_col: str
) -> DataFrame:
    """Rejoin each doc's surviving lines in original order; boiler is
    the (_fp, _boiler=true) verdict table keyed by trimmed-line md5."""
    flagged = lines.join(
        boiler, F.md5(F.col("_t")) == F.col("_fp"), "left"
    )
    dropped = F.coalesce(F.col("_boiler"), F.lit(False)) & (F.col("_t") != "")
    return flagged.groupBy(F.col(id_col)).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(~dropped, F.struct(F.col("pos"), F.col("line")))
                    )
                ),
                lambda s: s["line"],
            ),
        ).alias("clean_text"),
        F.sum(dropped.cast("int")).cast("long").alias("n_lines_removed"),
    )


def line_corpus_counts(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(fp, n_docs): the stored line-fingerprint state of a corpus —
    distinct-document counts per trimmed non-blank line, the side
    incremental_line_dedup consults (build once at admission, then
    maintain by SUMMING each admitted batch's counts in: epochs admit
    disjoint doc ids, so distinct-doc counts add across epochs)."""
    lines = _line_rows(docs, id_col, text_col)
    return (
        lines.filter(F.col("_t") != "")
        .groupBy(F.md5("_t").alias("fp"))
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
    )


def incremental_line_dedup(
    new_docs: DataFrame,
    corpus_counts: DataFrame,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    release: list | None = None,
) -> DataFrame:
    """line_dedup of an INCOMING batch against an accumulated corpus
    — the per-crawl-batch pipeline shape (consult-and-update, like
    incremental_exact_dedup): the corpus is represented ONLY by its
    stored (fp, n_docs) line-count table, never re-split. A batch
    line is boilerplate when corpus docs + batch distinct docs
    containing it reach min_docs.

    Exactness: the batch-side output equals the batch-id slice of a
    full line_dedup over corpus ∪ batch — a line's total distinct-doc
    count is exactly corpus count + batch count (epochs admit
    disjoint ids), so the verdict is identical (gated in tests).

    100 TB shape: the corpus table is consulted via a left_semi
    probe restricted to the batch's (delta-sized, broadcastable) line
    keys — streamed past, never shuffled or re-derived; everything
    else is the batch-local line_dedup plan. State update: append the
    batch's line_corpus_counts by summing per fp. `release=<list>`
    persists the batch's exploded lines (one explode pass), appended
    for the caller to unpersist."""
    lines = _line_rows(new_docs, id_col, text_col)
    if release is not None:
        lines = lines.persist()
        release.append(lines)
    batch_counts = (
        lines.filter(F.col("_t") != "")
        .groupBy(F.md5("_t").alias("_fp"))
        .agg(F.count_distinct(F.col(id_col)).alias("_bn"))
    )
    hits = corpus_counts.select(
        F.col("fp").alias("_fp"), F.col("n_docs").alias("_cn")
    ).join(batch_counts.select("_fp"), "_fp", "left_semi")
    boiler = (
        batch_counts.join(hits, "_fp", "left")
        .filter(
            F.coalesce(F.col("_cn"), F.lit(0)) + F.col("_bn") >= min_docs
        )
        .select("_fp", F.lit(True).alias("_boiler"))
    )
    return _reassemble_lines(lines, boiler, id_col)


def _ws_tokens(text: Column) -> Column:
    """Whitespace tokens of the trimmed text, ORIGINAL content kept
    (the span family edits text, so tokens must reconstruct it —
    unlike textstats._tokens_arr's lowercase/alnum normalization)."""
    return F.filter(
        F.split(F.trim(text), r"\s+"), lambda x: F.length(x) > 0
    )


def _span_token_docs(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, _ts): the ONE tokenize pass of the span family — every
    downstream branch (gram hashing, reassembly, token counts) reads
    this frame, so persisting it under the release contract makes the
    text scan + tokenize run exactly once. NULL text drops here (the
    no-output-row convention of exact_dedup)."""
    return docs.select(
        F.col(id_col), _ws_tokens(F.col(text_col)).alias("_ts")
    ).filter(F.col("_ts").isNotNull())


def _span_gram_rows(toks: DataFrame, n: int, id_col: str) -> DataFrame:
    """(id, pos, g): md5 of each space-joined n-token window at
    0-based token position pos, from the tokenized frame. Docs with
    fewer than n tokens contribute no rows."""
    return toks.select(
        F.col(id_col),
        F.posexplode(
            # explicit empty branch: sequence(1, 0) DESCENDS in Spark,
            # so the short-doc case can't ride a greatest() clamp
            F.expr(
                f"case when size(_ts) < {n} then array() "
                f"else transform(sequence(1, size(_ts) - {n} + 1), "
                f"i -> md5(array_join(slice(_ts, i, {n}), ' '))) end"
            )
        ).alias("pos", "g"),
    )


def span_dedup(
    docs: DataFrame,
    n: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    release: list | None = None,
) -> DataFrame:
    """(id, clean_text, n_tokens_removed): duplicated-SPAN removal —
    the exact-substring dedup family (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better", who cut substrings
    of >= 50 tokens occurring more than once). A token is covered
    when it lies inside any n-token window whose exact space-joined
    content occurs >= min_count times corpus-wide (ALL occurrences
    counted, within-doc repeats included — Lee et al.'s convention);
    covered tokens are removed everywhere and survivors rejoin with
    single spaces in original order.

    Exactness bound: every duplicated substring of >= n tokens
    contains a duplicated n-gram, so all such substrings are fully
    removed. The over-approximation relative to a suffix array is a
    run of grams each duplicated SOMEWHERE without one partner
    sharing the whole run — at n ~ 50 that coincidence is what the
    published n-gram variants of this pass accept.

    100 TB shape (no suffix array — that is a single-machine
    structure): one gram explode feeds a map-side-combined
    groupBy(gram-hash) whose >= min_count survivors are the verdict
    table (delta-sized for a mostly-unique web corpus — AQE
    broadcasts it when small); covered token indices come from
    exploding each duplicated gram into its n positions (bounded by
    n x dup-gram rows); reassembly is one groupBy(doc) whose state
    is bounded by the doc's own token count, exactly like
    line_dedup's. No window, no per-row Python, no driver state.

    Materialization contract (persist-and-release): the tokenized
    (id, _ts) frame feeds the gram hashing, the reassembly explode,
    AND the per-doc token counts, and the GRAM rows feed both the
    count agg and the coverage join — so `release=<list>` persists
    both frames (ONE text scan + tokenize, ONE md5-per-window
    hashing pass, for every branch) and appends them for the caller
    to unpersist after its downstream action; `release=None` stays
    lazy (driver-owned contract queries). NULL text: as in
    exact_dedup, NULL-text rows get no output row — filter
    upstream."""
    toks = _span_token_docs(docs, id_col, text_col)
    if release is not None:
        toks = toks.persist()
        release.append(toks)
    grams = _span_gram_rows(toks, n, id_col)
    if release is not None:
        grams = grams.persist()
        release.append(grams)
    dup = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("g")
    )
    return _span_apply(toks, grams, dup, n, id_col)


def _span_apply(
    toks: DataFrame,
    grams: DataFrame,
    dup: DataFrame,
    n: int,
    id_col: str,
) -> DataFrame:
    """Cut every token covered by a gram in the `dup` verdict table
    and reassemble — the shared back half of the span family, reading
    only the tokenized (id, _ts) frame."""
    covered = (
        grams.join(dup, "g", "left_semi")
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (n - 1))).alias(
                "_t"
            ),
        )
        .distinct()
    )
    trows = toks.select(
        F.col(id_col), F.posexplode(F.col("_ts")).alias("_t", "_tok")
    )
    flagged = trows.join(covered, [id_col, "_t"], "left_anti")
    kept = flagged.groupBy(F.col(id_col)).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("_t"), F.col("_tok")))
                ),
                lambda s: s["_tok"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("_nk"),
    )
    base = toks.select(F.col(id_col), F.size(F.col("_ts")).alias("_n"))
    return (
        base.join(kept, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            (F.col("_n") - F.coalesce("_nk", F.lit(0).cast("long")))
            .cast("long")
            .alias("n_tokens_removed"),
        )
    )


def span_gram_counts(
    docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(g, n_occurrences): the stored span-gram state of a corpus —
    total occurrence counts per n-token window hash, the side
    incremental_span_dedup consults (build once at admission, then
    maintain by SUMMING each admitted batch's counts in: occurrence
    totals add across any partition of the corpus into batches)."""
    return (
        _span_gram_rows(_span_token_docs(docs, id_col, text_col), n, id_col)
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )


def incremental_span_dedup(
    new_docs: DataFrame,
    corpus_counts: DataFrame,
    n: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    release: list | None = None,
) -> DataFrame:
    """span_dedup of an INCOMING batch against an accumulated corpus
    — the per-crawl-batch pipeline shape (consult-and-update, like
    incremental_exact_dedup / incremental_line_dedup): the corpus is
    represented ONLY by its stored (g, n_occurrences) gram-count
    table, never re-tokenized. A batch gram is duplicated when
    corpus occurrences + batch occurrences reach min_count.

    Exactness: the batch-side output equals the batch-id slice of a
    full span_dedup over corpus ∪ batch — a gram's total count is
    exactly the sum of the two sides' counts (gated in tests).

    100 TB shape: the corpus table is consulted via a left_semi probe
    restricted to the batch's (delta-sized, broadcastable) gram keys
    — streamed past partition-pruned, never shuffled or re-derived;
    everything else is the batch-local span_dedup plan. State update:
    append the batch's span_gram_counts by summing per g.
    `release=<list>` persists the batch's tokenized AND gram frames
    (one text scan + tokenize, one md5 hashing pass, for every
    branch), appended for the caller to unpersist."""
    toks = _span_token_docs(new_docs, id_col, text_col)
    if release is not None:
        toks = toks.persist()
        release.append(toks)
    grams = _span_gram_rows(toks, n, id_col)
    if release is not None:
        grams = grams.persist()
        release.append(grams)
    batch_counts = grams.groupBy("g").agg(F.count(F.lit(1)).alias("_bc"))
    hits = corpus_counts.select(
        "g", F.col("n_occurrences").alias("_cc")
    ).join(batch_counts.select("g"), "g", "left_semi")
    dup = (
        batch_counts.join(hits, "g", "left")
        .filter(
            F.coalesce(F.col("_cc"), F.lit(0)) + F.col("_bc") >= min_count
        )
        .select("g")
    )
    return _span_apply(toks, grams, dup, n, id_col)
