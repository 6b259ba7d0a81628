"""Cross-round back-link regression (ADVICE round 2, high severity).

A page fetched in a later round links BACK to URLs crawled in earlier
rounds.  If the driver's Bloom maintenance inserts corrupted keys (the
round-2 bug: null-int64 → float64 Arrow conversion rounding away low
bits of xxhash64 values), those already-seen URLs test "definitely new",
skip the exact anti-join, and are re-enqueued/re-fetched — duplicating
frontier and seen rows.  This fixture forces the back-link case the
synthetic web graph never produced, and pins the driver-collect path
(small delta ⇒ bloom_insert_driver) where the corruption lived.
"""

from __future__ import annotations

import pytest

from distributed_web_crawling_and_indexing_system_gcp_spark.plans.crawl import (
    CrawlConfig,
    run_crawl,
)
from distributed_web_crawling_and_indexing_system_gcp_spark.sources.snapshots import (
    SnapshotStore,
)
from tests.oracle import crawl_oracle


def _page(url, hrefs, status=200, final=None):
    body = "".join(f'<a href="{h}">x</a>' for h in hrefs)
    return {
        "url": url,
        "final_url": final or url,
        "status": status,
        "content_type": "text/html; charset=utf-8",
        "html": f"<html><body><h1>{url}</h1>{body}</body></html>",
        "fetch_ms": 10,
    }


@pytest.fixture(scope="module")
def backlink_fixture(spark):
    # budget=1 forces one fetch per host per round ⇒ the back-links on
    # c.test/p/3 (round ≥2) target URLs whose hashes entered the Bloom in
    # rounds 0-1.  Every round's delta is tiny ⇒ always the
    # driver-collect bloom path.
    web_rows = {
        "http://a.test/p/0": _page(
            "http://a.test/p/0", ["http://a.test/p/1", "http://b.test/p/2"]
        ),
        "http://a.test/p/1": _page("http://a.test/p/1", ["http://c.test/p/3"]),
        "http://b.test/p/2": _page("http://b.test/p/2", ["http://c.test/p/3"]),
        "http://c.test/p/3": _page(
            "http://c.test/p/3",
            [
                "http://a.test/p/0",   # back-link to the seed (round 0)
                "http://a.test/p/1",   # back-link to a round-1 fetch
                "http://b.test/p/2",   # back-link (other host)
                "http://c.test/p/4",   # genuinely new
            ],
        ),
        "http://c.test/p/4": _page(
            "http://c.test/p/4", ["http://a.test/p/0", "http://a.test/p/1"]
        ),
    }
    seed_rows = [
        {
            "task_id": "t-back",
            "seed_urls": ["http://a.test/p/0"],
            "depth": 5,
            "domain_restriction": None,
        }
    ]
    robots_rows: dict[str, str] = {}
    web_pages = spark.createDataFrame(
        list(web_rows.values()),
        "url string, final_url string, status int, content_type string, "
        "html string, fetch_ms int",
    )
    seed_jobs = spark.createDataFrame(
        [(s["task_id"], s["seed_urls"], s["depth"], s["domain_restriction"])
         for s in seed_rows],
        "task_id string, seed_urls array<string>, depth int, "
        "domain_restriction string",
    )
    robots_src = spark.createDataFrame([], "host string, rules_txt string")
    return {
        "web_rows": web_rows,
        "seed_rows": seed_rows,
        "robots_rows": robots_rows,
        "web_pages": web_pages,
        "seed_jobs": seed_jobs,
        "robots_src": robots_src,
    }


CFG = CrawlConfig(
    max_depth=5,
    politeness_budget=1,
    salt_buckets=2,
    max_attempts=2,
    bloom_shards=4,
    bloom_bits_per_shard=1 << 14,
    max_rounds=16,
)


@pytest.fixture(scope="module")
def engine_result(spark, backlink_fixture):
    return run_crawl(
        spark,
        backlink_fixture["seed_jobs"],
        backlink_fixture["web_pages"],
        backlink_fixture["robots_src"],
        CFG,
    )


def test_backlinked_urls_not_recrawled(engine_result):
    frontier = engine_result["frontier"].collect()
    canonicals = [r["canonical_url"] for r in frontier]
    assert len(canonicals) == len(set(canonicals)), (
        "back-linked URL re-entered the frontier — Bloom tracked wrong keys"
    )
    fetched = [r for r in frontier if r["status"] == "fetched"]
    assert len(fetched) == 5  # each page fetched exactly once


def test_backlink_seen_set_matches_oracle(engine_result, backlink_fixture):
    oracle = crawl_oracle(
        backlink_fixture["seed_rows"],
        backlink_fixture["web_rows"],
        backlink_fixture["robots_rows"],
        max_depth=CFG.max_depth,
        budget=CFG.politeness_budget,
        max_attempts=CFG.max_attempts,
        max_rounds=CFG.max_rounds,
    )
    engine_seen = {r["url"] for r in engine_result["seen"].collect()}
    assert engine_seen == oracle.seen
    rows = engine_result["frontier"].filter("status = 'fetched'").collect()
    engine_order = sorted(
        (r["round_processed"], r["depth"], r["canonical_url"]) for r in rows
    )
    assert engine_order == sorted(oracle.fetch_order)


def _crawl_past_collect_bound(spark, backlink_fixture, monkeypatch, store):
    """Crawl with bloom_delta_collect_max below every round's delta: the
    bounded key collect hits its LIMIT, and the Bloom update must take the
    distributed build+merge path.  Returns the result and the number of
    distributed shard builds."""
    from distributed_web_crawling_and_indexing_system_gcp_spark.operators import (
        seen as seen_ops,
    )

    build, builds = seen_ops.build_bloom_shards, []

    def spy_build(*args, **kwargs):
        builds.append(args)
        return build(*args, **kwargs)

    monkeypatch.setattr(seen_ops, "build_bloom_shards", spy_build)
    cfg = CrawlConfig(**{**CFG.__dict__, "bloom_delta_collect_max": 1})
    res = run_crawl(
        spark,
        backlink_fixture["seed_jobs"],
        backlink_fixture["web_pages"],
        backlink_fixture["robots_src"],
        cfg,
        store=store,
    )
    return res, len(builds)


def _assert_same_crawl(res, engine_result):
    def key(r):
        return sorted(
            (x["canonical_url"], x["status"], x["depth"], x["round_processed"])
            for x in r["frontier"].collect()
        )
    assert key(res) == key(engine_result)
    assert {r["url"] for r in res["seen"].collect()} == {
        r["url"] for r in engine_result["seen"].collect()
    }


def test_oversized_delta_falls_back_to_distributed_bloom(
    spark, backlink_fixture, engine_result, monkeypatch
):
    """Driver mode: past the collect bound the Bloom update builds shards
    distributedly — results identical to the driver-insert path."""
    res, n_builds = _crawl_past_collect_bound(
        spark, backlink_fixture, monkeypatch, store=None
    )
    assert n_builds >= 1
    _assert_same_crawl(res, engine_result)


def test_oversized_delta_falls_back_to_distributed_bloom_with_store(
    spark, backlink_fixture, engine_result, monkeypatch, tmp_path
):
    """The store sink takes the same bounded collect and the same
    fallback."""
    store = SnapshotStore(str(tmp_path), spark)
    res, n_builds = _crawl_past_collect_bound(
        spark, backlink_fixture, monkeypatch, store=store
    )
    assert n_builds >= 1
    _assert_same_crawl(res, engine_result)


def test_production_fetch_stage_parity(spark, backlink_fixture):
    """The REAL grouped-applyInPandas fetch stage (injected fixture-backed
    fetcher) must produce the exact same crawl as the join-based
    fetch_synthetic path — frontier, seen set and document spans."""
    from distributed_web_crawling_and_indexing_system_gcp_spark.sources.fetch import (
        fixture_fetcher,
    )

    cfg = CrawlConfig(
        max_depth=CFG.max_depth,
        politeness_budget=CFG.politeness_budget,
        salt_buckets=CFG.salt_buckets,
        max_attempts=CFG.max_attempts,
        bloom_shards=CFG.bloom_shards,
        bloom_bits_per_shard=CFG.bloom_bits_per_shard,
        max_rounds=CFG.max_rounds,
        extra={
            "fetcher": fixture_fetcher(backlink_fixture["web_rows"]),
            "fetch_min_interval": 0.0,
        },
    )
    net = run_crawl(
        spark,
        backlink_fixture["seed_jobs"],
        backlink_fixture["web_pages"],
        backlink_fixture["robots_src"],
        cfg,
    )
    syn = run_crawl(
        spark,
        backlink_fixture["seed_jobs"],
        backlink_fixture["web_pages"],
        backlink_fixture["robots_src"],
        CFG,
    )

    def frontier_key(res):
        return sorted(
            (r["canonical_url"], r["status"], r["depth"], r["round_processed"])
            for r in res["frontier"].collect()
        )

    assert frontier_key(net) == frontier_key(syn)
    assert {r["url"] for r in net["seen"].collect()} == {
        r["url"] for r in syn["seen"].collect()
    }
    docs_net = sorted(
        (r["canonical_url"], [tuple(s) for s in r["spans"]])
        for r in net["documents"].collect()
    )
    docs_syn = sorted(
        (r["canonical_url"], [tuple(s) for s in r["spans"]])
        for r in syn["documents"].collect()
    )
    assert docs_net == docs_syn


def test_production_fetch_stage_pacing(spark):
    """Within one (host, salt) group, request release times are spaced
    ≥ min_interval_s — observed via a fetcher that timestamps each call."""
    import time

    from distributed_web_crawling_and_indexing_system_gcp_spark.sources.fetch import (
        fetch_over_network,
    )

    batch = spark.createDataFrame(
        [("h.test", 0, f"http://h.test/p/{i}") for i in range(4)]
        + [("other.test", 0, "http://other.test/p/0")],
        "host string, host_salt int, url string",
    ).coalesce(1)

    def stamping_fetcher(url):
        return {
            "final_url": url,
            "http_status": 200,
            "content_type": "text/html",
            "html": "<html></html>",
            "fetch_ms": int(time.monotonic() * 1000) % (2**31),
        }

    out = fetch_over_network(
        batch, min_interval_s=0.05, fetcher=stamping_fetcher
    ).collect()
    stamps = sorted(r["fetch_ms"] for r in out if r["host"] == "h.test")
    assert len(stamps) == 4
    gaps = [b - a for a, b in zip(stamps, stamps[1:])]
    assert all(g >= 45 for g in gaps), f"pacing violated: gaps={gaps}"


def test_seen_delta_collect_preserves_extreme_int64(spark):
    """The driver-collect path must hand back EXACT int64 keys for values
    whose low bits vanish under a float64 round-trip.  The crawl driver
    ships them as decimal STRINGS inside the (nullable) fused frame —
    mirror that exact pattern, nulls included."""
    import numpy as np
    from pyspark.sql import functions as F

    adversarial = [
        (1 << 62) + 1,
        -((1 << 62) + 3),
        (1 << 53) + 1,           # first value float64 cannot represent
        0x7FFFFFFFFFFFFFFF,
        -0x8000000000000000,
        1234567890123456789,
    ]
    df = spark.createDataFrame(
        [("seen", k) for k in adversarial] + [("metrics", None)] * 3,
        "_tbl string, url_hash long",
    )
    pdf = df.select(
        "_tbl", F.col("url_hash").cast("string").alias("url_hash_str")
    ).toPandas()
    got = (
        pdf.loc[pdf["_tbl"] == "seen", "url_hash_str"]
        .to_numpy()
        .astype(np.int64)
    )
    assert sorted(int(x) for x in got) == sorted(adversarial)
