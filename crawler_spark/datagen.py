"""Deterministic synthetic page generation (no external data).

Produces tables with exactly the input_hint schema
(url, warc_ts, html, text, lang). Graph fixtures (ported from the
reference's tests/algos/helpers.go:39-293) are encoded into html as
outlinks: node i -> https://node{i}.test/, edge (i->j) -> an <a href>
anchor. `html` is synthesized so that functions.extract.extract_text
recovers `text` byte-for-byte (the A-axis correctness invariant) and
extract_links recovers the fixture out-edges.

Scale-out generation (synth_pages) is fully counter-RNG driven
(rng.py), so any slice of it is reproducible without generating the
rest — the property that lets the same generator describe a 10^10-URL
frontier while we materialize only small prefixes.
"""

from __future__ import annotations

import datetime as _dt
import math
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from . import rng, schemas

EPOCH0 = _dt.datetime(2025, 1, 1, tzinfo=_dt.timezone.utc)

_VOCAB = (
    "the quick brown fox jumps over lazy dog crawl rank walk graph node edge "
    "frontier fetch page link host spark data query score visit index store "
    "batch shuffle join filter count merge delta prune graft seed alpha"
).split()


@dataclass
class Fixture:
    """A named test graph with analytically-known scores.

    Ported from /root/reference/tests/algos/helpers.go (values verbatim).
    """

    name: str
    follows: dict[int, list[int]]  # node -> sorted out-neighbors
    expected_global: dict[int, float]
    expected_personalized0: dict[int, float]
    # deltas as (node_id, removed, added); dynamic-test protocol applies
    # one delta then its inverse (helpers.go:22-29)
    deltas: list[tuple[int, list[int], list[int]]] = field(default_factory=list)

    @property
    def n_nodes(self) -> int:
        return len(self.follows)

    def edge_list(self) -> list[tuple[int, int]]:
        return [(s, d) for s, ds in self.follows.items() for d in ds]


def _mk_fixtures() -> dict[str, Fixture]:
    f: dict[str, Fixture] = {}
    f["dandlings"] = Fixture(
        "dandlings",
        {i: [] for i in range(5)},
        {i: 0.20 for i in range(5)},
        {0: 1.0, 1: 0.0, 2: 0.0, 3: 0.0, 4: 0.0},
        deltas=[(0, [], [1]), (0, [], [1, 2]), (0, [], [1, 2, 3]), (0, [], [1, 2, 3, 4])],
    )
    f["triangle"] = Fixture(
        "triangle",
        {0: [1], 1: [2], 2: [0]},
        {0: 1 / 3, 1: 1 / 3, 2: 1 / 3},
        {0: 0.38873, 1: 0.33042, 2: 0.28086},
    )
    f["triangle_plus_one"] = Fixture(
        "triangle_plus_one",
        {0: [1, 3], 1: [2], 2: [0], 3: []},
        {
            0: 0.29700319989476004,
            1: 0.20616253803697476,
            2: 0.2552206288779828,
            3: 0.24161363319028237,
        },
        {0: 0.45223, 1: 0.19220, 2: 0.16337, 3: 0.19220},
    )
    f["acyclic1"] = Fixture(
        "acyclic1",
        {0: [1, 2], 1: [], 2: [3], 3: [1], 4: []},
        {
            0: 0.11185368285521291,
            1: 0.36950360789646736,
            2: 0.15943176539450626,
            3: 0.24735726099860061,
            4: 0.11185368285521291,
        },
        {
            0: 0.39709199748768864,
            1: 0.2906949630265446,
            2: 0.16876345947470478,
            3: 0.14344958001106195,
            4: 0.0,
        },
        deltas=[
            (0, [1, 2], []), (0, [1], []), (0, [2], []),
            (0, [], [4]), (0, [], [3]),
            (0, [1], [3]), (0, [2], [3]), (0, [1], [4]), (0, [2], [4]),
            (0, [1, 2], [3]), (0, [1, 2], [4]), (0, [1, 2], [3, 4]),
            (4, [], [0]), (4, [], [1]), (4, [], [2]), (4, [], [3]), (4, [], [0, 1]),
        ],
    )
    f["acyclic2"] = Fixture(
        "acyclic2",
        {0: [1, 2], 1: [], 2: [], 3: [], 4: [3, 5], 5: []},
        {
            0: 0.12987025255292317,
            1: 0.18506487372353833,
            2: 0.18506487372353833,
            3: 0.18506487372353833,
            4: 0.12987025255292317,
            5: 0.18506487372353833,
        },
        {
            0: 0.5405393205897051,
            1: 0.22973033970514745,
            2: 0.22973033970514745,
            3: 0.0,
            4: 0.0,
            5: 0.0,
        },
        deltas=[
            (0, [1], []), (0, [2], []),
            (0, [], [3]), (0, [], [4]), (0, [], [5]),
            (0, [1], [3]), (0, [1], [4]), (0, [1], [3, 4]),
            (0, [2], [3]), (0, [1], [5]), (0, [1], [3, 5]),
            (1, [], [2]), (1, [], [3]), (1, [], [4]),
        ],
    )
    f["acyclic3"] = Fixture(
        "acyclic3",
        {0: [1, 2], 1: [], 2: [], 3: [1, 2]},
        {
            0: 0.17543839772251532,
            1: 0.32456160227748454,
            2: 0.32456160227748454,
            3: 0.17543839772251532,
        },
        {0: 0.5405396591260619, 1: 0.22973017043696903, 2: 0.22973017043696903, 3: 0.0},
        deltas=[
            (0, [1], []), (0, [2], []), (0, [1, 2], []),
            (0, [], [3]),
            (0, [1], [3]), (0, [2], [3]), (0, [1, 2], [3]),
        ],
    )
    f["acyclic4"] = Fixture(
        "acyclic4",
        {0: [1, 2], 1: [], 2: [], 3: [1]},
        {
            0: 0.17543839772251535,
            1: 0.3991232045549693,
            2: 0.25,
            3: 0.17543839772251535,
        },
        {0: 0.5405396591260619, 1: 0.22973017043696903, 2: 0.22973017043696903, 3: 0.0},
        deltas=[
            (0, [1], []), (0, [2], []), (0, [1, 2], []),
            (0, [], [3]),
            (0, [1], [3]), (0, [2], [3]), (0, [1, 2], [3]),
        ],
    )
    follows50 = {i: [(i + 1) % 50] for i in range(50)}
    f["cyclic_long50"] = Fixture(
        "cyclic_long50",
        follows50,
        {i: 1.0 / 50.0 for i in range(50)},
        {i: 0.15 * math.pow(0.85, i) for i in range(50)},
        deltas=[(0, [1], []), (0, [], [25]), (0, [1], [25])],
    )
    return f


FIXTURES = _mk_fixtures()


def node_url(i: int) -> str:
    return f"https://node{i}.test/"


def random_graph(n: int, out_degree: int, seed: int = 42) -> dict[int, list[int]]:
    """Random graph: n nodes, exactly `out_degree` distinct out-edges
    each, no self-loops (fuzz fixture shape,
    reference pkg/database/mock/database.go:512-544) — counter-RNG
    deterministic."""
    follows: dict[int, list[int]] = {}
    for i in range(n):
        # draw more than needed, drop self + dups, trim
        draws = rng.randint(n, seed, i, np.arange(4 * out_degree + 8), 7)
        seen: list[int] = []
        for d in draws.tolist():
            if d != i and d not in seen:
                seen.append(d)
            if len(seen) == out_degree:
                break
        follows[i] = sorted(seen)
    return follows


def _page_text(seed: int, page_key: int, n_words: int = 24) -> str:
    idx = rng.randint(len(_VOCAB), seed, page_key, np.arange(n_words), 11)
    words = [_VOCAB[j] for j in idx.tolist()]
    # two paragraphs
    half = n_words // 2
    return " ".join(words[:half]) + "\n" + " ".join(words[half:])


def render_html(url: str, text: str, outlinks: list[str], lang: str = "en") -> bytes:
    """Deterministic synthetic html whose <p> blocks carry `text` and
    whose <a href> anchors carry `outlinks` (in order)."""
    paras = "".join(f"<p>{p}</p>\n" for p in text.split("\n"))
    anchors = "".join(f'<a href="{u}">l</a>\n' for u in outlinks)
    page = (
        f'<!doctype html><html lang="{lang}"><head><meta charset="utf-8">'
        f"<title>{url}</title></head><body>\n{paras}<nav>\n{anchors}</nav>\n"
        f"</body></html>"
    )
    return page.encode("utf-8")


def pages_pdf(
    follows: dict[int, list[int]], seed: int = 42, lang: str = "en"
) -> pd.DataFrame:
    """pandas pages table for a fixture graph (driver-side, tiny)."""
    rows = []
    for i in sorted(follows):
        url = node_url(i)
        text = _page_text(seed, i)
        links = [node_url(j) for j in follows[i]]
        rows.append(
            {
                "url": url,
                "warc_ts": EPOCH0 + _dt.timedelta(seconds=i),
                "html": render_html(url, text, links, lang),
                "text": text,
                "lang": lang,
            }
        )
    return pd.DataFrame(rows, columns=[f.name for f in schemas.PAGES.fields])


def pages_df(
    spark: SparkSession,
    follows: dict[int, list[int]],
    seed: int = 42,
    lang: str = "en",
) -> DataFrame:
    return spark.createDataFrame(pages_pdf(follows, seed, lang), schema=schemas.PAGES)


def synth_pages(
    spark: SparkSession,
    n_pages: int,
    seed: int = 42,
    n_hosts: int | None = None,
    avg_degree: int = 12,
    partitions: int | None = None,
) -> DataFrame:
    """Scale-out Common-Crawl-style pages: page i lives at
    https://host{h}.test/p{i} with h and out-degree drawn from the
    counter RNG (host popularity ~ zipf-ish via squaring to create the
    hot-domain skew the frontier must handle). Built with mapInPandas —
    each partition generates only its own index range, so this scales
    to arbitrary n_pages without driver materialization."""
    n_hosts = n_hosts or max(4, int(math.isqrt(n_pages)))
    if partitions is None:
        partitions = max(1, min(64, n_pages // 5000 + 1))

    rng_seed = seed

    def gen(batches):
        for pdf in batches:
            idx = pdf["id"].to_numpy()
            # skew: square a uniform to concentrate mass on low host ids
            hu = rng.u01(rng_seed, idx, 1)
            hosts = (hu * hu * n_hosts).astype(np.int64)
            deg = rng.randint(2 * avg_degree, rng_seed, idx, 2)
            urls, ts, htmls, texts = [], [], [], []
            for i, h, d in zip(idx.tolist(), hosts.tolist(), deg.tolist()):
                url = f"https://host{h}.test/p{i}"
                tgt_idx = rng.randint(n_pages, rng_seed, i, np.arange(d), 3)
                tu = rng.u01(rng_seed, tgt_idx, 1)
                tgt_hosts = (tu * tu * n_hosts).astype(np.int64)
                links = [
                    f"https://host{th}.test/p{t}"
                    for t, th in zip(tgt_idx.tolist(), tgt_hosts.tolist())
                    if t != i
                ]
                text = _page_text(rng_seed, i)
                urls.append(url)
                ts.append(EPOCH0 + _dt.timedelta(seconds=int(i % 86400)))
                htmls.append(render_html(url, text, links))
                texts.append(text)
            yield pd.DataFrame(
                {
                    "url": urls,
                    "warc_ts": ts,
                    "html": htmls,
                    "text": texts,
                    "lang": ["en"] * len(urls),
                }
            )

    base = spark.range(0, n_pages, 1, partitions)
    return base.mapInPandas(gen, schema=schemas.PAGES)


def synth_edges(
    spark: SparkSession,
    n_nodes: int,
    avg_degree: int = 10,
    locality: float = 0.8,
    host_block: int = 256,
    seed: int = 42,
    partitions: int | None = None,
) -> DataFrame:
    """Scale-out synthetic (src, dst) graph with WEB-SHAPED locality:
    ids are host-clustered (each run of `host_block` consecutive ids
    is one host, matching mint_node_ids' url-ordered minting), and a
    `locality` fraction of each node's edges stay inside its host
    block — the intra-host link mass real crawls exhibit, which the
    bucketed walk strategy exploits. Counter-RNG deterministic and
    generated with mapInPandas (each partition emits only its own id
    range), so it scales to 10^8+ edges without touching the driver.
    """
    if partitions is None:
        partitions = max(4, min(256, n_nodes // 20_000 + 1))

    def gen(batches):
        for pdf in batches:
            src = pdf["id"].to_numpy(np.int64)
            deg = rng.randint(avg_degree, seed, src, 31) + avg_degree // 2 + 1
            reps = np.repeat(src, deg)
            ends = np.cumsum(deg)
            k = np.arange(int(ends[-1])) - np.repeat(ends - deg, deg)
            local = rng.u01(seed, reps, k, 32) < locality
            block0 = (reps // host_block) * host_block
            dst_local = block0 + rng.randint(host_block, seed, reps, k, 33)
            dst_global = rng.randint(n_nodes, seed, reps, k, 34)
            dst = np.where(local, np.minimum(dst_local, n_nodes - 1), dst_global)
            keep = dst != reps
            out = pd.DataFrame({"src": reps[keep], "dst": dst[keep]})
            yield out.drop_duplicates()

    base = spark.range(0, n_nodes, 1, partitions)
    return base.mapInPandas(gen, schema="src long, dst long")
