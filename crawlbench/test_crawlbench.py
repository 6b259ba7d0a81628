"""The benchmark's own tests — pure Python, no Spark session.

    python3 -m pytest crawlbench/test_crawlbench.py -q
"""

from __future__ import annotations

import os
import sys
from itertools import islice

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import checks as C  # noqa: E402
import workloads as WL  # noqa: E402
from distributed_web_crawling_and_indexing_system_gcp_spark.sources import (  # noqa: E402
    webgen,
)
from tracing import Tracer  # noqa: E402


def _first(stream, n=30):
    return list(islice(stream, n))


def test_generators_are_deterministic_per_seed():
    for w in WL.WORKLOADS.values():
        assert WL.seed_urls(w, 7) == WL.seed_urls(w, 7)
        a, b = WL.corpus(w, 7), WL.corpus(w, 7)
        assert a.log == b.log and a.segment(1) == b.segment(1)
        assert _first(WL.queries(w, 7)) == _first(WL.queries(w, 7))


def test_two_seeds_give_different_inputs():
    for w in WL.WORKLOADS.values():
        assert WL.seed_urls(w, 1) != WL.seed_urls(w, 2)
        a, b = WL.corpus(w, 1), WL.corpus(w, 2)
        assert a.log != b.log and a.segment(1) != b.segment(1)
        assert _first(WL.queries(w, 1)) != _first(WL.queries(w, 2))


def test_generated_inputs_have_the_shape_the_workload_needs():
    w = WL.WORKLOADS["crawl_deep"]
    hosts = [u.split("/")[2] for u in WL.seed_urls(w, 3)]
    # the hot host holds more seeds than one round's politeness budget
    assert max(hosts.count(h) for h in set(hosts)) > w.budget
    c = WL.corpus(w, 3)
    versions = {}
    for doc, _, version, _ in c.log:
        versions.setdefault(doc, []).append(version)
    assert sum(1 for v in versions.values() if v == [1, 2]) == int(
        WL.N_DOCS * WL.RECRAWL_SHARE
    )
    assert c.segment(1) != c.segment(2)
    assert all(c.log[d][1] == url for d, url, _ in c.segment(1))
    for kind, terms in _first(WL.queries(w, 3)):
        assert kind in WL.QUERY_KINDS and 1 <= len(terms) == len(set(terms)) <= 3


def _small_web():
    n, hosts = 60, 8
    pages = {}
    for i in range(n):
        url = webgen.url_of(i, hosts)
        pages[url] = {
            "url": url, "final_url": url, "status": 200,
            "content_type": "text/html", "fetch_ms": 10,
            "html": webgen._html_for(i, n, hosts),
        }
    robots = {"h1.test": "User-agent: *\nDisallow: /private/"}
    seeds = [{"task_id": "t", "seed_urls": [webgen.url_of(i, hosts) for i in (0, 1, 5)],
              "depth": 2, "domain_restriction": None}]
    return seeds, pages, robots


def test_crawl_check_rejects_a_dropped_fetched_row():
    from tests.oracle import crawl_oracle

    seeds, pages, robots = _small_web()

    class Cfg:
        max_depth, politeness_budget, max_attempts, max_rounds = 2, 4, 3, 3

    want = C.oracle_digest(seeds, pages, robots, Cfg)
    res = crawl_oracle(seeds, pages, robots, max_depth=2, budget=4,
                       max_attempts=3, max_rounds=3)
    rows = [(r["canonical"], r["depth"], r["status"]) for r in res.frontier]
    assert C.diff_digest(C.crawl_digest(rows, res.seen), want) == []
    dropped = rows.copy()
    dropped.remove(next(r for r in rows if r[2] == "fetched"))
    assert C.diff_digest(C.crawl_digest(dropped, res.seen), want)
    assert C.diff_digest(C.crawl_digest(rows, sorted(res.seen)[1:]), want)


def _field():
    docs = {1: "spark bloom bloom", 2: "spark crawl", 3: "bloom frontier crawl",
            4: "spark spark index", 5: "crawl crawl crawl bloom"}
    return C.Field(
        (t, d, text.split().count(t)) for d, text in docs.items()
        for t in set(text.split())
    )


def test_query_check_accepts_the_reference_and_rejects_a_swapped_rank():
    f = _field()
    scores = f.bm25(["spark", "crawl"])
    want = C.topk(scores, 3)
    assert C.same_topk(want, scores, 3)
    swapped = [(want[1][0], 1, want[0][2]), (want[0][0], 2, want[1][2]), want[2]]
    assert want[0][2] != want[1][2]
    assert not C.same_topk(swapped, scores, 3)
    assert not C.same_topk(want[:2], scores, 3)  # a dropped hit


def test_query_check_allows_reordered_exact_ties():
    scores = {1: 2.0, 2: 1.0, 3: 1.0, 4: 0.5}
    assert C.same_topk([(1, 1, 2.0), (3, 2, 1.0), (2, 3, 1.0)], scores, 3)
    assert C.same_topk([(1, 1, 2.0), (3, 2, 1.0)], scores, 2)
    assert not C.same_topk([(1, 1, 2.0), (4, 2, 1.0)], scores, 2)


def test_last_write_wins_replaces_every_posting_of_a_doc():
    f = _field()
    f.replace_docs([("index", 1, 1)])
    assert 1 not in f.postings["bloom"] and f.postings["index"][1] == 1
    assert f.dl[1] == 1


def test_self_time_subtracts_child_spans():
    t = Tracer("t", enabled=True)
    with t.span("parent"):
        with t.span("child"):
            pass
    st = t.self_times()
    (p,) = t.durations("parent")
    assert abs(st["parent"] + st["child"] - p) < 1e-9
    assert Tracer("off", enabled=False).spans == []
