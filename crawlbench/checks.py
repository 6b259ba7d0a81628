"""Correctness references, independent of the engine's query plans.

- Crawl: a digest of the result (per-(depth, status) counts, fetched
  pages per host, seen-set size and hash), compared with the digest of
  ``tests/oracle.crawl_oracle`` on the same generated web and seeds.
- Search: every query's top-k recomputed in pure Python from the same
  postings, after last-write-wins resolution of appended segments.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict
from urllib.parse import urlparse

SCORE_DIGITS = 6


def crawl_digest(frontier_rows, seen_urls) -> dict:
    """``frontier_rows``: iterable of (canonical_url, depth, status)."""
    by_status: Counter = Counter()
    per_host: Counter = Counter()
    for url, depth, status in frontier_rows:
        by_status[f"{depth}/{status}"] += 1
        if status == "fetched":
            per_host[urlparse(url).netloc] += 1
    seen = sorted(set(seen_urls))
    return {
        "by_depth_status": dict(sorted(by_status.items())),
        "fetched_per_host": dict(sorted(per_host.items())),
        "seen_size": len(seen),
        "seen_sha256": hashlib.sha256("\n".join(seen).encode()).hexdigest(),
    }


def oracle_digest(seed_rows, web_rows, robots_rows, cfg) -> dict:
    from tests.oracle import crawl_oracle

    res = crawl_oracle(
        seed_rows, web_rows, robots_rows,
        max_depth=cfg.max_depth, budget=cfg.politeness_budget,
        max_attempts=cfg.max_attempts, max_rounds=cfg.max_rounds,
    )
    return crawl_digest(
        ((r["canonical"], r["depth"], r["status"]) for r in res.frontier),
        res.seen,
    )


def diff_digest(got: dict, want: dict) -> list[str]:
    return [k for k in want if got.get(k) != want[k]]


# -- search ---------------------------------------------------------------

class Field:
    """One postings stream: term → {doc: tf}, plus per-doc lengths."""

    def __init__(self, rows):
        self.postings: dict[str, dict] = defaultdict(dict)
        self.dl: Counter = Counter()
        for term, doc, tf in rows:
            self.postings[term][doc] = tf
            self.dl[doc] += tf

    def copy(self) -> "Field":
        out = Field(())
        out.postings = defaultdict(dict, {t: dict(p) for t, p in self.postings.items()})
        out.dl = Counter(self.dl)
        return out

    def replace_docs(self, rows) -> None:
        """Last-write-wins: a re-indexed doc's new postings shadow ALL of
        its earlier ones."""
        rows = list(rows)
        docs = {doc for _, doc, _ in rows}
        for plist in self.postings.values():
            for d in docs & plist.keys():
                del plist[d]
        for d in docs:
            self.dl.pop(d, None)
        for term, doc, tf in rows:
            self.postings[term][doc] = tf
            self.dl[doc] += tf

    def bm25(self, terms, k1=1.2, b=0.75) -> dict:
        n = len(self.dl)
        avgdl = sum(self.dl.values()) / n
        scores: dict = defaultdict(float)
        for t in terms:
            plist = self.postings.get(t, {})
            df = len(plist)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            for doc, tf in plist.items():
                norm = 1.0 - b + b * self.dl[doc] / avgdl
                scores[doc] += idf * tf * (k1 + 1.0) / (tf + k1 * norm)
        return scores

    def tfidf(self, terms, n_docs: int) -> dict:
        scores: dict = defaultdict(float)
        for t in terms:
            plist = self.postings.get(t, {})
            for doc, tf in plist.items():
                scores[doc] += tf * math.log(1.0 + n_docs / len(plist))
        return scores


def multifield(fields: list[Field], terms) -> dict:
    best: dict = {}
    for f in fields:
        for doc, s in f.bm25(terms).items():
            best[doc] = max(best.get(doc, s), s)
    return best


def topk(scores: dict, k: int = 10) -> list[tuple]:
    ranked = sorted(scores.items(), key=lambda ds: (-ds[1], ds[0]))[:k]
    return [(doc, rank, round(s, SCORE_DIGITS)) for rank, (doc, s) in enumerate(ranked, 1)]


def same_topk(got: list[tuple], scores: dict, k: int) -> bool:
    """The engine's (doc, rank, rounded score) list equals the reference
    top-k of ``scores``.  Docs whose scores tie after rounding may come in
    another order — the engine may sum a doc's terms in another order, so
    exact ties can break differently — but every returned doc must carry
    the reference score of its rank."""
    want = topk(scores, k)
    if [(r, s) for _, r, s in got] != [(r, s) for _, r, s in want]:
        return False
    return all(
        d in scores and round(scores[d], SCORE_DIGITS) == s for d, _, s in got
    ) and len({d for d, _, _ in got}) == len(got)
