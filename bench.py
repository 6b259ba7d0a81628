"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` (default 32) and
prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headliners cover the engine's real workload (a multi-round crawl over a
synthetic closed-world web sized to the SF) plus the heaviest relational /
dedup / search / similarity queries from __spark_entry__.  Each query is
fully materialized via count() (results are not collected to the driver).

Scaling-efficiency evidence (north rule: ≥0.8 between N and 4N
parallelism) is produced by tools/bench_scaling.py, which shells out to
this module's crawl workload at two local[] sizes — see BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def setup_crawl(spark, n_pages: int, depth: int = 1, richness: int = 64,
                seed_every: int = 2, zipf_s: float | None = None):
    """Build (and fully materialize) the synthetic closed-world web plus
    robots/seed fixtures.  This is the *environment* (the internet), not
    the engine — the scaling bench times only the crawl itself.

    Shape mirrors a 10^10-URL frontier scaled down: FEW, BIG rounds
    (dense seeding + depth-1 BFS ⇒ two rounds that each fetch ~half the
    web) and realistically heavy pages (richness 64 ≈ 20 KB of HTML —
    real-web median is 30-100 KB).  A toy shape with many tiny rounds
    measures driver latency, not engine throughput."""
    from distributed_web_crawling_and_indexing_system_gcp_spark.sources import webgen

    n_hosts = 64
    # cache: the fetch join touches web_pages every round; without caching
    # the generator UDF re-renders the whole synthetic web per action
    web = webgen.make_web_pages(
        spark, n_pages, n_hosts, richness, zipf_s=zipf_s
    ).persist()
    web.count()
    robots = webgen.make_robots_src(spark, n_hosts)
    if zipf_s is not None:
        def host_fn(i, nh):
            return webgen.zipf_host_of(i, nh, zipf_s)
    else:
        host_fn = webgen.host_of
    seeds = spark.createDataFrame(
        [
            (
                "bench-job",
                [
                    webgen.url_of(i, n_hosts, host_fn)
                    for i in range(0, n_pages, seed_every)
                ],
                depth,
                None,
            )
        ],
        "task_id string, seed_urls array<string>, depth int, domain_restriction string",
    )
    return web, robots, seeds


def run_crawl_workload(spark, web, robots, seeds, budget: int = 32_000,
                       depth: int = 1):
    """The engine's real job: multi-round crawl of a synthetic web.

    Returns (pages_fetched, urls_scheduled)."""
    from distributed_web_crawling_and_indexing_system_gcp_spark.plans.crawl import (
        CrawlConfig,
        run_crawl,
    )

    cfg = CrawlConfig(
        max_depth=depth,
        politeness_budget=budget,
        salt_buckets=8,
        bloom_shards=32,
        bloom_bits_per_shard=1 << 20,
        max_rounds=depth + 2,
    )
    out = run_crawl(spark, seeds, web, robots, cfg)
    # one job for both totals (count + conditional count in a single agg)
    from pyspark.sql import functions as F

    row = out["frontier"].agg(
        F.count("*").alias("scheduled"),
        F.count(F.when(F.col("status") == "fetched", 1)).alias("fetched"),
    ).collect()[0]
    return row["fetched"], row["scheduled"]


def crawl_workload(spark, n_pages: int, budget: int = 32_000, depth: int = 1,
                   richness: int = 64):
    """setup + run in one call (fixture generation included in wall time)."""
    web, robots, seeds = setup_crawl(spark, n_pages, depth, richness)
    try:
        return run_crawl_workload(spark, web, robots, seeds, budget, depth)
    finally:
        web.unpersist()


def _graph_timings(spark, sf_dir: str) -> dict[str, float]:
    """Time the three link-graph operators over an SF-scaled edge list.

    Edges are a deterministic function of the documents table (two
    co-prime hash moduli → varying degrees, ~1024 nodes, |edges| ≈
    |documents|), cached so each timed operator sees the same
    materialized input.  PageRank runs 8 iterations so per-iteration
    plan growth (the classic iterative-Spark failure mode) would show up
    as superlinear wall time — ``localCheckpoint`` keeps it flat
    (tests/test_linkgraph.py pins the plan-size invariant)."""
    import time as _time

    from pyspark.sql import functions as F

    from distributed_web_crawling_and_indexing_system_gcp_spark.operators import (
        linkgraph as LG,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = (
        d.select(
            (F.col("doc_id") % 1024).alias("src"),
            ((F.col("doc_id") * 31 + 7) % 1021).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    edges.count()
    out: dict[str, float] = {}
    t0 = _time.perf_counter()
    LG.pagerank(edges, iterations=8).count()
    out["graph_pagerank"] = round(_time.perf_counter() - t0, 3)
    t0 = _time.perf_counter()
    LG.connected_components(edges).count()
    out["graph_components"] = round(_time.perf_counter() - t0, 3)
    t0 = _time.perf_counter()
    LG.triangle_count(edges).count()
    out["graph_triangles"] = round(_time.perf_counter() - t0, 3)
    edges.unpersist()
    return out


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    from distributed_web_crawling_and_indexing_system_gcp_spark.session import (
        build_session,
    )
    import __spark_entry__ as E

    spark = build_session(
        app_name="bench", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    # the bench times the driver-facing surface PLUS the folded-out
    # queries (still part of the engine's contract — see
    # __spark_entry__.extra_queries)
    qs = {**E.queries(), **E.extra_queries()}
    headliners = [
        "pricing_summary",
        "top_revenue",
        "postings",
        "search_topk",
        "search_partitioned",
        "search_bm25",
        "search_multifield",
        "term_stats",
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
        "dedup_simhash",
        "dedup_embedding",
        "ann_bruteforce",
        "event_windows",
        "politeness_window",
        "url_canonicalize",
        "search_snippets",
        "stall_detect",
        "dedup_keep_latest",
        "corpus_clean",
    ]
    # warm the JVM / codegen / parquet footer caches so the first timed
    # query doesn't absorb session startup
    qs["pricing_summary"](spark, sf_dir).count()
    qs["postings"](spark, sf_dir).count()
    # pre-build the partitioned index (app-keyed path, built once/session)
    # so the timed search_partitioned run measures the pruned query alone
    qs["search_partitioned"](spark, sf_dir).count()
    # same for the BM25 postings+doc-norms side tables (built once with
    # the index; the timed run measures query cost, VERDICT r4 #6)
    qs["search_bm25"](spark, sf_dir).count()

    timings: dict[str, float] = {}
    for name in headliners:
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).count()
        timings[name] = round(time.perf_counter() - t0, 3)

    # -- link-graph analytics at SF scale (VERDICT r4 #7) -------------------
    # The driver-checked graph queries run on a small oracle-matched
    # fixture; the BENCH rows run the same operators over an edge list
    # that grows with the SF (one edge per document, ~8 edges/node), so
    # the measured number is the iterative shuffle cost, not setup.
    for name, t in _graph_timings(spark, sf_dir).items():
        timings[name] = t

    # crawl: ~20k-page web per 0.1 SF unit; fixture generation (the
    # synthetic internet) is setup, not engine work — excluded from the
    # timed region.  Warm the crawl path immediately BEFORE the timed run
    # (codegen of the round plans, Python Arrow-UDF worker pool, JIT) —
    # the same warm-up bench_scaling/profile_crawl use.  Within a
    # session the FIRST full-size crawl reproducibly pays a one-time
    # warm-up cost a repeat run does not (measured 159→81 s and 136→81 s
    # at local[32]/20k); the warm-up run absorbs most of it.  Across
    # sessions this VM's multi-core noise floor (±40% at local[32])
    # dominates — BENCH/ab.json carries the rotated interleaved
    # code-vs-code truth.  NOTE (ADVICE r4): the warm-up exists since
    # round 4 — crawl_round numbers from BENCH_r01-r03 are NOT comparable
    # with r4+ readings; it scales with the fixture (≤ n_pages/10) so a
    # small-SF bench never times a second identical full-size run.
    n_pages = max(int(200_000 * sf), 2_000) if sf > 0 else 20_000
    crawl_workload(spark, min(2_000, max(n_pages // 10, 200)))
    web, robots, seeds = setup_crawl(spark, n_pages)
    t0 = time.perf_counter()
    fetched, scheduled = run_crawl_workload(spark, web, robots, seeds)
    crawl_s = round(time.perf_counter() - t0, 3)
    timings["crawl_round"] = crawl_s

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline query suite wall time (incl. multi-round crawl)",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "crawl_pages_fetched": fetched,
                "crawl_pages_per_sec": round(fetched / crawl_s, 1),
                "crawl_urls_scheduled": scheduled,
                "cpus": cpus,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
