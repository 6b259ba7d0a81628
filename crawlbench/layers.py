"""Per-layer measurements of a traced run, taken from outside the package
by calling each layer's public functions on this run's own data.

Throughputs use Spark's ``noop`` sink, so a figure is the layer's work and
not a collect.  Per-core rates divide by wall time × cores.
"""

from __future__ import annotations

import statistics
import time

from pyspark.sql import functions as F

from distributed_web_crawling_and_indexing_system_gcp_spark.functions import (
    urls as U,
)
from distributed_web_crawling_and_indexing_system_gcp_spark.functions.html import (
    links_view,
    parse_html_udf,
)
from distributed_web_crawling_and_indexing_system_gcp_spark.operators import (
    dedup as DD,
    politeness,
    robots,
    seen as seen_ops,
)
from distributed_web_crawling_and_indexing_system_gcp_spark.plans.crawl import (
    dedupe_seed_jobs,
    seeds_to_frontier,
)
from distributed_web_crawling_and_indexing_system_gcp_spark.sources.fetch import (
    classify_fetch,
    fetch_synthetic,
)

JACCARD_NEAR_DUP = 0.5
ARROW_BATCH = 1024  # spark.sql.execution.arrow.maxRecordsPerBatch of the session


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> float:
    """Seconds one call of ``fn`` takes.  One call only: a traced run has
    to stay well inside the per-run time limit."""
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def crawl_layers(spark, fx, out, cfg, cores: int) -> dict:
    m: dict[str, tuple] = {}
    ck = dict(eager=True)

    # round-0 batch: the seed frontier, as the crawl's first round sees it
    batch = seeds_to_frontier(spark, dedupe_seed_jobs(fx.seeds)).localCheckpoint(**ck)
    n_batch = batch.count()

    t = _timed(lambda: _noop(classify_fetch(fetch_synthetic(batch, fx.web))))
    m["fetch.rows_per_s"] = (n_batch / t, "rows/s")

    t = _timed(lambda: _noop(politeness.select_polite_batch(
        batch, budget=cfg.politeness_budget, salt_buckets=cfg.salt_buckets,
        order_cols=("depth", "url", "task_id"),
    )))
    windowed = politeness.select_polite_batch(
        batch, budget=cfg.politeness_budget, salt_buckets=cfg.salt_buckets,
        order_cols=("depth", "url", "task_id"),
    ).localCheckpoint(**ck)
    sel = windowed.agg(F.count("*"), F.count(F.when(~F.col("selected"), 1))).first()
    m["politeness.select_s"] = (t, "s")
    m["politeness.deferred_share"] = (sel[1] / sel[0], "share")

    t = _timed(lambda: _noop(robots.gate_on_robots(batch, fx.robots)))
    gate = robots.gate_on_robots(batch, fx.robots).agg(
        F.count("*"), F.count(F.when(~F.col("robots_allowed"), 1))
    ).first()
    m["robots.gate_s"] = (t, "s")
    m["robots.blocked_share"] = (gate[1] / gate[0], "share")

    # HTML of the pages the crawl fetched in its last round, at most one
    # Arrow batch per core
    frontier = out["frontier"]
    last = frontier.filter(F.col("status") == "fetched").agg(
        F.max("round_processed")
    ).first()[0]
    expand = frontier.filter(
        (F.col("status") == "fetched") & (F.col("round_processed") == last)
        & (F.col("depth") < F.coalesce(F.col("depth_limit"), F.lit(cfg.max_depth)))
    ).select("url")
    pages = (
        fx.web.join(expand, "url")
        .select(F.coalesce("final_url", "url").alias("base"), "html")
        .limit(cores * ARROW_BATCH)
        .repartition(cores)
        .localCheckpoint(**ck)
    )
    n_pages = pages.count()
    t = _timed(lambda: _noop(pages.select(parse_html_udf("html"))))
    m["html.parse_rows_per_s_core"] = (n_pages / (t * cores), "rows/s")

    links = pages.select(
        "base", F.posexplode(links_view(parse_html_udf("html"))).alias("pos", "href")
    ).localCheckpoint(**ck)
    n_links = links.count()
    t = _timed(lambda: _noop(links.select(U.resolve_and_parse_udf("base", "href"))))
    m["urls.resolve_rows_per_s_core"] = (n_links / (t * cores), "rows/s")
    resolved = links.select(
        U.resolve_and_parse_udf("base", "href").alias("rp")
    ).select("rp.*").filter(U.is_schemed_http(F.col("scheme"), F.col("netloc")))
    resolved = resolved.localCheckpoint(**ck)
    n_res = resolved.count()
    t = _timed(lambda: _noop(resolved.select(U.canonicalize_udf("new_url"))))
    m["urls.canonicalize_rows_per_s_core"] = (n_res / (t * cores), "rows/s")

    # seen layer: those links probed the way the crawl's only round probed
    # them.  run_crawl builds its Bloom filter from the seen set the round
    # starts with — empty, as the crawl starts fresh — so every link is
    # "definitely new" to the filter, and the links to pages of the round's
    # own batch are removed by the exact anti-join against that batch.
    cand = resolved.select(F.xxhash64("canonical").alias("url_hash")).localCheckpoint(**ck)
    n_cand = cand.count()
    seen_start = out["seen"].limit(0)
    round_batch = windowed.filter("selected").select("url_hash").distinct()
    round_batch = round_batch.localCheckpoint(**ck)
    shards: dict = {}

    def build():
        shards.update(seen_ops.shards_to_dict(seen_ops.build_bloom_shards(
            seen_start, cfg.bloom_shards, cfg.bloom_bits_per_shard
        )))

    m["seen.bloom_build_s"] = (_timed(build), "s")
    t = _timed(lambda: _noop(seen_ops.filter_new(
        cand, seen_start, shards, cfg.bloom_shards, cfg.bloom_bits_per_shard
    ).join(round_batch, "url_hash", "left_anti")))
    m["seen.probe_rows_per_s"] = (n_cand / t, "rows/s")
    flagged = seen_ops.bloom_maybe_seen(
        spark, cand, shards, cfg.bloom_shards, cfg.bloom_bits_per_shard
    ).join(round_batch.select("url_hash", F.lit(True).alias("in_batch")),
           "url_hash", "left")
    c = flagged.agg(
        F.count(F.when(~F.col("maybe_seen"), 1)),
        F.count(F.when(F.col("maybe_seen"), 1)),
        F.count(F.when(F.col("in_batch"), 1)),
    ).first()
    m["seen.definitely_new_share"] = (c[0] / n_cand, "share")
    # the filter holds no key, so every "maybe seen" answer is false
    m["seen.false_positive_share"] = (c[1] / n_cand, "share")
    m["seen.batch_dup_share"] = (c[2] / n_cand, "share")
    return m


def _shingles(text: str, k: int = 3) -> set:
    toks = text.lower().split()
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def dedup_pairs(spark, latest) -> tuple[int, float]:
    """LSH candidate pairs, and the share of them whose word-3-shingle
    Jaccard similarity reaches JACCARD_NEAR_DUP."""
    pairs = DD.minhash_lsh_candidates(latest, "doc_no", "text").collect()
    text = {r[0]: r[1] for r in latest.select("doc_no", "text").collect()}
    true = 0
    for a, b in pairs:
        sa, sb = _shingles(text[a]), _shingles(text[b])
        if sa and sb and len(sa & sb) / len(sa | sb) >= JACCARD_NEAR_DUP:
            true += 1
    return len(pairs), (true / len(pairs) if pairs else 0.0)


def buckets_read_share(spark, term_lists, num_buckets: int) -> float:
    """Mean share of the index's term buckets a partitioned query scans."""
    terms = sorted({t for ts in term_lists for t in ts})
    bucket = {
        r[0]: r[1]
        for r in spark.createDataFrame([(t,) for t in terms], "term string")
        .select("term", F.pmod(F.xxhash64("term"), F.lit(num_buckets)))
        .collect()
    }
    shares = [len({bucket[t] for t in ts}) / num_buckets for ts in term_lists]
    return statistics.mean(shares)


__all__ = ["crawl_layers", "dedup_pairs", "buckets_read_share"]
