"""Seeded synthetic web for the crawl-and-rank benchmark.

Keeps the shape of `crawler_spark.datagen.synth_pages`: page i lives at
https://host{h}.test/p{i}, the host is drawn by squaring a uniform (the
zipf-like hot-domain skew the frontier's politeness budget must
handle), and each page carries a uniform 0..2*avg_degree-1 out-links
to uniformly drawn pages. Unlike `synth_pages`, page text is drawn from
a vocabulary of `VOCAB_SIZE` words, so two unrelated pages share almost
no character 3-shingles. Near-duplicates come only from a planted share of
pages that copy another page's text with `MUTATIONS` words replaced.
With `synth_pages`' 43-word vocabulary every page is a near-duplicate
candidate of every other, so the dedup stage measures a degenerate
input.

Every draw is a pure function of (seed, page index, stream) through
the engine's counter RNG, so the same seed gives the same web.
"""

from __future__ import annotations

import datetime as _dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from crawler_spark import rng
from crawler_spark.datagen import EPOCH0, render_html

VOCAB_SIZE = 8192
WORDS_PER_PAGE = 40
MUTATIONS = 2

# the dedup stage shingles CHARACTER 3-grams, so words are random
# letter strings: built from a few syllables, unrelated pages would
# share most of their trigrams
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
_VOCAB_KEY = 0x5EED


def _vocab() -> list[str]:
    j = np.arange(VOCAB_SIZE)
    lengths = 4 + rng.randint(6, _VOCAB_KEY, j, 60)
    return [
        "".join(_LETTERS[rng.randint(26, _VOCAB_KEY, w, np.arange(n), 61)])
        for w, n in zip(j.tolist(), lengths.tolist())
    ]


VOCAB = _vocab()


def host_of(seed: int, idx: np.ndarray, n_hosts: int) -> np.ndarray:
    """Host id of page(s) `idx`: a squared uniform concentrates mass
    on low host ids."""
    u = rng.u01(seed, idx, 1)
    return (u * u * n_hosts).astype(np.int64)


def page_url(host: int, i: int) -> str:
    return f"https://host{host}.test/p{i}"


class Web:
    """The generated pages as columns, plus the facts a workload
    states about its input."""

    def __init__(
        self,
        n_pages: int,
        seed: int,
        n_seeds: int,
        avg_degree: int = 12,
        neardup_share: float = 0.10,
    ):
        self.n_pages = n_pages
        self.seed = seed
        self.avg_degree = avg_degree
        self.n_hosts = max(4, int(np.sqrt(n_pages)))
        idx = np.arange(n_pages, dtype=np.int64)
        self.hosts = host_of(seed, idx, self.n_hosts)
        self.urls = [page_url(h, i) for i, h in enumerate(self.hosts.tolist())]
        self.seeds = np.argsort(rng.hash64(seed, idx, 51))[:n_seeds]
        # planted near-duplicates: each copies the text of an ORIGINAL
        # seed page on its own host (any original seed if the host has
        # none), so the copy and its partner are crawled, and usually
        # scheduled together (the frontier batches by url, i.e. host)
        self.is_dup = rng.u01(seed, idx, 41) < neardup_share
        pool = self.seeds[~self.is_dup[self.seeds]]
        by_host: dict[int, list[int]] = {}
        for p in sorted(pool.tolist()):
            by_host.setdefault(int(self.hosts[p]), []).append(p)
        self.template = idx.copy()
        dups = idx[self.is_dup]
        pick = rng.u01(seed, dups, 42)
        for d, u in zip(dups.tolist(), pick.tolist()):
            cands = by_host.get(int(self.hosts[d])) or pool.tolist()
            self.template[d] = cands[int(u * len(cands))]

    def top_host_share(self) -> float:
        """Share of pages on the most popular host."""
        return float(np.bincount(self.hosts).max() / self.n_pages)

    def texts(self) -> list[str]:
        idx = np.arange(self.n_pages)
        k = np.arange(WORDS_PER_PAGE)
        words = rng.randint(
            VOCAB_SIZE, self.seed, self.template[:, None], k[None, :], 11
        )
        dups = idx[self.is_dup]
        m = np.arange(MUTATIONS)
        pos = rng.randint(WORDS_PER_PAGE, self.seed, dups[:, None], m[None, :], 43)
        words[dups[:, None], pos] = rng.randint(
            VOCAB_SIZE, self.seed, dups[:, None], m[None, :], 44
        )
        half = WORDS_PER_PAGE // 2
        out = []
        for row in words.tolist():
            ws = [VOCAB[j] for j in row]
            out.append(" ".join(ws[:half]) + "\n" + " ".join(ws[half:]))
        return out

    def link_lists(self) -> list[list[str]]:
        idx = np.arange(self.n_pages, dtype=np.int64)
        deg = rng.randint(2 * self.avg_degree, self.seed, idx, 2)
        src = np.repeat(idx, deg)
        k = np.arange(len(src)) - np.repeat(np.cumsum(deg) - deg, deg)
        tgt = rng.randint(self.n_pages, self.seed, src, k, 3)
        keep = tgt != src
        src, tgt = src[keep], tgt[keep]
        bounds = np.searchsorted(src, idx, side="left").tolist() + [len(src)]
        turls = [self.urls[t] for t in tgt.tolist()]
        return [turls[bounds[i] : bounds[i + 1]] for i in range(self.n_pages)]

    def seed_urls(self) -> list[str]:
        """The seed set: `n_seeds` pages drawn at random, planted
        copies included."""
        return [self.urls[int(i)] for i in self.seeds]

    def write_parquet(self, path: str) -> None:
        """The pages table (url, warc_ts, html, text, lang) as one
        parquet file, written without Spark so the input costs the
        engine no jobs."""
        texts = self.texts()
        htmls = [
            render_html(u, t, links)
            for u, t, links in zip(self.urls, texts, self.link_lists())
        ]
        ts = [
            EPOCH0 + _dt.timedelta(seconds=i % 86400)
            for i in range(self.n_pages)
        ]
        table = pa.table(
            {
                "url": pa.array(self.urls, pa.string()),
                "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
                "html": pa.array(htmls, pa.binary()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * self.n_pages, pa.string()),
            }
        )
        pq.write_table(table, path)
