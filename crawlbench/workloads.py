"""Workload definitions and their seed-driven input generators.

Everything here is pure Python: the workload seed picks the crawl's seed
URLs, the indexed document log, the re-crawled and re-indexed documents
and the query terms.  The engine only ever receives DataFrames built from
these lists, so two runs with one seed see identical inputs.
"""

from __future__ import annotations

import random
from collections.abc import Iterator
from dataclasses import dataclass
from itertools import cycle, product

from distributed_web_crawling_and_indexing_system_gcp_spark.sources import webgen

N_HOSTS = 64


@dataclass(frozen=True)
class Workload:
    """One crawl shape.  Why each exists: BENCHMARK.json and METRICS.md."""

    name: str
    n_pages: int
    richness: int
    zipf_s: float | None
    n_seeds: int          # seed URLs the workload seed draws from the web
    depth: int
    budget: int           # politeness budget (pages per host per round)
    store: bool           # SnapshotStore commit every round vs driver mode


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="crawl_wide",
            n_pages=600, richness=64, zipf_s=None, n_seeds=540,
            depth=1, budget=1_000_000, store=False,
        ),
        Workload(
            name="crawl_deep",
            n_pages=1000, richness=4, zipf_s=1.2, n_seeds=192,
            depth=3, budget=6, store=True,
        ),
    )
}

# every crawl is capped at one round: a round costs 15-30 s whatever its
# size (crawlbench/METRICS.md)
MAX_ROUNDS = 1

# index/search side of every workload, run in traced runs only: one
# document log, then a closed loop of queries with a segment of
# APPEND_DOCS re-indexed documents appended before every query but the
# first
N_DOCS = 600
RECRAWL_SHARE = 0.10
NEAR_DUP_SHARE = 0.05
APPEND_DOCS = 40
QUERY_KINDS = ("bm25", "multifield", "partitioned")
NUM_BUCKETS = 16
TOP_K = 10


def host_fn(w: Workload):
    if w.zipf_s is None:
        return webgen.host_of
    s = w.zipf_s
    return lambda i, nh: webgen.zipf_host_of(i, nh, s)


def seed_urls(w: Workload, seed: int) -> list[str]:
    """``n_seeds`` pages, stratified by host: how many seeds each host gets
    is fixed by the workload (in proportion to its pages), which pages
    they are is drawn from the seed — so the politeness deferral is the
    same for every seed."""
    rng = random.Random(f"{w.name}/seeds/{seed}")
    hf = host_fn(w)
    by_host: dict[int, list[int]] = {}
    for i in range(w.n_pages):
        by_host.setdefault(hf(i, N_HOSTS), []).append(i)
    picks: list[int] = []
    for pages in by_host.values():
        picks += rng.sample(pages, round(w.n_seeds * len(pages) / w.n_pages))
    return [webgen.url_of(i, N_HOSTS, hf) for i in sorted(picks)]


def _vocabulary() -> list[str]:
    syl = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "pe", "su", "da", "fi"]
    words = ["".join(p) for p in product(syl, repeat=2)]
    words += ["".join(p) for p in product(syl, repeat=3)]
    return words[:1500]


VOCAB = _vocabulary()
_CUM = []
_acc = 0.0
for _r in range(len(VOCAB)):
    _acc += 1.0 / (_r + 1) ** 1.1
    _CUM.append(_acc)


def _words(rng: random.Random, n: int) -> list[str]:
    return rng.choices(VOCAB, cum_weights=_CUM, k=n)


def _mutate(rng: random.Random, text: str, share: float) -> str:
    toks = text.split()
    for _ in range(max(1, int(len(toks) * share))):
        toks[rng.randrange(len(toks))] = _words(rng, 1)[0]
    return " ".join(toks)


@dataclass
class Corpus:
    log: list[tuple[int, str, int, str]]  # (doc_no, url, version, text)
    key: str                              # seeds the re-indexed segments

    def segment(self, n: int) -> list[tuple[int, str, str]]:
        """The documents re-indexed by the n-th append: APPEND_DOCS
        (doc_no, url, text) rows with new text, drawn when asked for."""
        rng = random.Random(f"{self.key}/segment/{n}")
        return [
            (i, self.log[i][1], " ".join(_words(rng, rng.randint(20, 80))))
            for i in sorted(rng.sample(range(N_DOCS), APPEND_DOCS))
        ]


def corpus(w: Workload, seed: int) -> Corpus:
    """Document log: N_DOCS base documents (version 1) of Zipf-drawn words,
    a share of them near-duplicates of an earlier document, plus a
    seed-chosen re-crawled subset at version 2.  The log starts with the
    base documents in doc_no order."""
    rng = random.Random(f"{w.name}/corpus/{seed}")
    base: list[tuple[int, str, int, str]] = []
    for i in range(N_DOCS):
        url = f"http://site{rng.randrange(40)}.test/{_words(rng, 1)[0]}/{i}"
        if i > 10 and rng.random() < NEAR_DUP_SHARE:
            text = _mutate(rng, base[rng.randrange(i)][3], 0.03)
        else:
            text = " ".join(_words(rng, rng.randint(20, 80)))
        base.append((i, url, 1, text))
    recrawled = sorted(rng.sample(range(N_DOCS), int(N_DOCS * RECRAWL_SHARE)))
    log = base + [
        (i, base[i][1], 2, _mutate(rng, base[i][3], 0.2)) for i in recrawled
    ]
    return Corpus(log, f"{w.name}/{seed}")


def queries(w: Workload, seed: int) -> Iterator[tuple[str, list[str]]]:
    """Endless stream of (kind, distinct terms): 1-3 Zipf-weighted terms,
    kinds rotating."""
    rng = random.Random(f"{w.name}/queries/{seed}")
    for kind in cycle(QUERY_KINDS):
        terms: list[str] = []
        want = rng.randint(1, 3)
        while len(terms) < want:
            t = _words(rng, 1)[0]
            if t not in terms:
                terms.append(t)
        yield kind, terms
