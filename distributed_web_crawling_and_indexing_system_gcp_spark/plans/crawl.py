"""Crawl-round logical plan + driver round loop.

One crawl **round** is one deterministic Spark job over the frontier
(SURVEY.md §3.1 "engine equivalent").  The reference's master⇄crawler
Pub/Sub loop (/root/reference/src/master/master_node.py:155-282 and
/root/reference/src/crawler/crawler_node.py:224-388) becomes:

    pending frontier
      → per-host politeness window (budget; overflow deferred)
      → global seen-set dedup (canonical url_hash)
      → robots gate (broadcast rules join + vectorized RobotFileParser;
        one verdict per batch row, persisted)
      → fetch (synthetic closed-world join; network stage stubbed)
        + the page pass: ONE Arrow UDF per fetched page parses the html
        into interleaved spans and resolves each link span (clean →
        urljoin → urlparse → canonicalize), for pages below their depth
        limit — the round's fetch write holds spans and resolved links
      → documents rows (Catalyst views over the spans)
      → posexplode resolved links → validity → domain restriction
        (case-sensitive SUBSTRING, crawler_node.py:363) → url_hash
        → dedup vs seen (Bloom probe, then exact anti-join)
        → new pending frontier rows
      → metrics (per-partition lineage) → atomic snapshot commit

A round thus runs two Python passes, robots and the page pass, both
inside the fetch write; after it, only a round that starts from a
non-empty Bloom map runs one more, the probe of its link candidates
(tests/test_crawl_plans.py).

Determinism contract (what the pytest oracle mirrors exactly):
- frontier order = (depth asc, url asc) within each host's budget window;
- seen adds happen (a) when a row is selected for fetch — BEFORE the
  robots gate, matching crawler_node.py:253-268 where a robots-blocked
  URL still enters the seen set — and (b) when a link is extracted
  (crawler_node.py:361-365);
- children are enqueued in canonical form (crawler_node.py:366) with
  depth+1, inheriting task_id / depth_limit / domain_restriction
  (master_node.py:236-248, is_continuation path);
- timeout ⇒ retryable while attempts < max_attempts (reference nacks for
  redelivery, crawler_node.py:278-281); other errors ⇒ terminal failure;
- extraction-batch duplicates resolve to min (depth, parent_url, link_pos).

Scale shape: every stage is a narrow map or a key-partitioned shuffle on
(host[, salt]) or url_hash; the only driver materialization is the
pending-row count per round and the (MB-sized) Bloom shard map.
"""

from __future__ import annotations

import functools
import itertools
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from ..functions import urls as U
from ..functions.html import page_pass_udf, text_view
from ..operators import politeness, robots, seen as seen_ops
from ..sources.fetch import classify_fetch, fetch_synthetic
from ..sources.snapshots import SnapshotStore

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("canonical_url", T.StringType()),
        T.StructField("url_hash", T.LongType()),
        T.StructField("host", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("depth_limit", T.IntegerType()),
        T.StructField("task_id", T.StringType()),
        T.StructField("domain_restriction", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("attempts", T.IntegerType()),
        T.StructField("round_added", T.IntegerType()),
        T.StructField("round_processed", T.IntegerType()),
    ]
)

SEEN_SCHEMA = "url_hash long, url string"

ROBOTS_SCHEMA = "host string, rules_txt string"

DOCUMENTS_SCHEMA = (
    "doc_id string, canonical_url string, task_id string, depth int, round int, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
    "text string, html string"
)

METRICS_SCHEMA = (
    "node_type string, event string, task_id string, url string, count long, "
    "partition_id int, round int"
)

# distinguishes scratch dirs of multiple run_crawl calls; itertools.count's
# next() is atomic under the GIL, so threads racing run_crawl in one session
# can never draw the same suffix (ADVICE r3)
_RUN_SEQ = itertools.count(1)


@dataclass
class CrawlConfig:
    max_depth: int = 3                  # reference MAX_DEPTH default
    politeness_budget: int = 8          # per host per round (north rule)
    salt_buckets: int = 4               # host-salt skew factor
    max_attempts: int = 3               # timeout retries (T2)
    bloom_shards: int = 16
    bloom_bits_per_shard: int = 1 << 18
    max_rounds: int = 64
    # per-round seen-delta sizes up to this collect driver-side for the
    # numpy Bloom insert; above it the distributed build_bloom_shards +
    # or_shards path runs instead (a breadth-y round at 10^10-URL scale
    # can add billions of keys — collecting those would OOM the driver)
    bloom_delta_collect_max: int = 2_000_000
    extra: dict = field(default_factory=dict)


def seeds_to_frontier(spark: SparkSession, seed_jobs: DataFrame) -> DataFrame:
    """Expand seed jobs into round-0 pending frontier rows.

    Mirrors the master's seed path (master_node.py:254-275): depth=0,
    depth_limit=job depth, task_id=job task_id.  The UI's duplicate-seed-
    set job dedup (UI/main.py:185-199) is applied upstream by
    ``dedupe_seed_jobs``.  Invalid (non-http) seeds are dropped like the
    crawler's validity guard (crawler_node.py:248-251).
    """
    rows = seed_jobs.select(
        F.explode("seed_urls").alias("raw_url"),
        F.col("task_id"),
        F.col("depth").alias("depth_limit"),
        F.col("domain_restriction"),
    )
    # one seed job = one input row ⇒ the exploded URLs land in one
    # partition; spread them so the canonicalize/host UDFs parallelize
    rows = rows.repartition(spark.sparkContext.defaultParallelism)
    cleaned = rows.withColumn("url", U.clean_col(F.col("raw_url"))).filter(
        U.is_valid_http(F.col("url"))
    )
    out = (
        cleaned.withColumn("canonical_url", U.canonicalize_udf(F.col("url")))
        .withColumn("url_hash", F.xxhash64(F.col("canonical_url")))
        .withColumn("host", F.lower(U.host_udf(F.col("url"))))
        .withColumn("depth", F.lit(0))
        .withColumn("status", F.lit("pending"))
        .withColumn("attempts", F.lit(0))
        .withColumn("round_added", F.lit(0))
        .withColumn("round_processed", F.lit(None).cast("int"))
    )
    return out.select([f.name for f in FRONTIER_SCHEMA.fields])


def validate_seed_jobs(seed_jobs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Ingest guards (F9) — the master's message validation re-expressed
    for a job table (master_node.py:158-200: empty message, bad JSON,
    missing task_id, unreadable payload all ack-and-drop; :255-260 null
    depth falls back to the default limit).

    Returns ``(valid, rejected)``; ``rejected`` carries a ``reject_reason``
    column so the caller can route it to a dead-letter sink the way the
    reference logs-and-acks.  Null depth is repaired (default 3), not
    rejected, matching the reference's lenient default.
    """
    reason = (
        F.when(
            F.col("task_id").isNull() | (F.trim(F.col("task_id")) == ""),
            F.lit("missing_task_id"),
        )
        .when(
            F.col("seed_urls").isNull() | (F.size(F.col("seed_urls")) == 0),
            F.lit("empty_seed_set"),
        )
        .when(F.col("depth") < 0, F.lit("invalid_depth"))
        .otherwise(F.lit(None).cast("string"))
    )
    flagged = seed_jobs.withColumn("reject_reason", reason)
    valid = (
        flagged.filter(F.col("reject_reason").isNull())
        .drop("reject_reason")
        .withColumn("depth", F.coalesce(F.col("depth"), F.lit(3)))
    )
    rejected = flagged.filter(F.col("reject_reason").isNotNull())
    return valid, rejected


def dedupe_seed_jobs(seed_jobs: DataFrame) -> DataFrame:
    """UI-level duplicate-job collapse: jobs with the same sorted seed-URL
    set reuse the earliest task (UI/main.py:185-199, J5).  One window over
    the set signature keeps each set's smallest ``task_id``."""
    sig = F.array_join(F.sort_array(F.col("seed_urls")), ",")
    return (
        seed_jobs.withColumn("_sig", sig)
        .withColumn("_first", F.min("task_id").over(Window.partitionBy("_sig")))
        .filter(F.col("task_id") == F.col("_first"))
        .drop("_sig", "_first")
    )


def _empty(spark: SparkSession, schema) -> DataFrame:
    return spark.createDataFrame([], schema)


def _retryable(cfg: CrawlConfig):
    """Frontier rows a round may still process."""
    return (F.col("status") == "pending") | (
        (F.col("status") == "timeout") & (F.col("attempts") < cfg.max_attempts)
    )


def _phase(cfg: CrawlConfig, round_no: int, name: str, t0: float) -> float:
    """Opt-in phase profiling: ``cfg.extra["phase_log"]`` is a caller-owned
    list that collects ``(round_no, phase, seconds since t0)`` for the
    serial-fraction audit (tools/profile_serial.py, crawlbench); absent in
    normal runs = zero cost.  Returns now, the next phase's t0."""
    now = time.perf_counter()
    log = cfg.extra.get("phase_log")
    if log is not None:
        log.append((round_no, name, now - t0))
    return now


def _extract_links(ok_html: DataFrame) -> DataFrame:
    """ok_html: fetched rows with the page pass's ``links`` column (null for
    pages at their depth limit); returns candidate child rows (pre
    seen-dedup).  Columns: canonical child url/hash + lineage + dedup-
    ordering keys (child_depth, parent_canonical, link_pos).  Pure
    Catalyst: the links were resolved in the fetch stage."""
    links = ok_html.select(
        F.col("canonical_url").alias("parent_canonical"),
        F.col("task_id"),
        F.col("depth"),
        F.col("depth_limit"),
        F.col("domain_restriction"),
        F.posexplode(F.col("links")).alias("link_pos", "_l"),
    )
    netloc = F.col("_l.netloc")
    # substring (NOT suffix) domain restriction, case-sensitive on the
    # non-normalized netloc (crawler_node.py:363)
    valid = links.filter(
        U.is_schemed_http(F.col("_l.scheme"), netloc)
        & (F.col("domain_restriction").isNull()
           | netloc.contains(F.col("domain_restriction")))
    )
    return (
        valid.withColumn("canonical_url", F.col("_l.canonical"))
        .drop("_l")
        .withColumn("url_hash", F.xxhash64(F.col("canonical_url")))
        .withColumn("child_depth", F.col("depth") + F.lit(1))
    )


def run_round(
    spark: SparkSession,
    round_no: int,
    frontier: DataFrame,
    seen: DataFrame,
    robots_rules: DataFrame,
    web_pages: DataFrame,
    robots_src: DataFrame,
    cfg: CrawlConfig,
    bloom: dict[int, bytes],
    scratch: str,
    pending_hint: int | None = None,
) -> dict[str, DataFrame]:
    """Execute one crawl round; returns the round's tables (lazy DFs): the
    next frontier, the seen and robots deltas, documents and metrics.

    ``pending_hint``: exact count of retryable frontier rows entering this
    round, when the caller knows it (run_crawl derives it from last
    round's collected metrics: deferred + retryable timeouts + new URLs).
    Used only to skip provably-identity work; None = unknown.

    ``robots_src(host, rules_txt)`` is the closed-world robots fixture —
    hosts absent from it are "fetch failed ⇒ permissive" (null rules).

    ``bloom``: the Bloom shard map of ``seen`` (``seen_ops.filter_new``).

    ``scratch``: directory for the round's fetch-result materialization as
    PARQUET.  The fetch result is ~95% html+spans by bytes but most
    consumers (six status branches, metrics) need only the narrow frontier
    columns — columnar storage gives them column pruning, so only the
    documents/link branches pay for the heavy payload.  On a cluster this
    is exactly an Iceberg/Delta round-state table on local SSD/object
    storage.
    """
    _t = time.perf_counter()
    retryable = _retryable(cfg)
    pending = frontier.filter(retryable)
    settled = frontier.filter(~retryable)

    # -- politeness window: ≤ budget rows per host this round ---------------
    # persisted: deferred, first_timers, retries, and skipped_seen all
    # branch off this subtree — without the persist the window shuffles
    # (and everything upstream) re-execute once per consumer.
    # Short-circuit: when the driver already knows the TOTAL pending count
    # (from last round's collected metrics) and it is ≤ the per-host
    # budget, no host can exceed its budget, so selection is the identity —
    # the two window shuffles (and their stage-scheduling latency, the
    # dominant cost of small retry-only rounds) are skipped.  Selection
    # semantics are unchanged: all rows selected, deferred empty, exactly
    # what the windowed form returns for any under-budget round.
    if pending_hint is not None and pending_hint <= cfg.politeness_budget:
        windowed = pending.withColumn("selected", F.lit(True))
    else:
        windowed = politeness.select_polite_batch(
            pending,
            budget=cfg.politeness_budget,
            salt_buckets=cfg.salt_buckets,
            order_cols=("depth", "url", "task_id"),
        ).persist()
    deferred = windowed.filter(~F.col("selected")).drop("selected")
    batch = windowed.filter(F.col("selected")).drop("selected")

    # -- selection-time dedup ------------------------------------------------
    # The reference's pre-fetch seen check (crawler_node.py:253-258) guards
    # against the SAME task being delivered/processed twice.  In the global
    # engine, enqueue-time dedup (extraction below) already keeps the
    # pending frontier unique among never-processed URLs, so the selection
    # check compares against *processed* canonicals only (duplicate seeds
    # across jobs, re-deliveries) — NOT against the full enqueued-seen set,
    # which would wrongly skip every child the frontier itself scheduled.
    # Timeout retries bypass the check (T2 re-delivery of an owned task).
    first_timers = batch.filter(F.col("status") == "pending")
    retries = batch.filter(F.col("status") != "pending")
    # right side of a left_anti needs no distinct — skip the extra shuffle
    processed = frontier.filter(F.col("round_processed").isNotNull()).select(
        "url_hash"
    )
    new_batch = first_timers.join(processed, "url_hash", "left_anti")
    skipped_seen = first_timers.join(
        new_batch.select("url_hash"), "url_hash", "left_anti"
    )
    # same-batch canonical duplicates: keep (depth, url, task_id) min
    new_batch = new_batch.withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy("url_hash").orderBy("depth", "url", "task_id")
        ),
    )
    batch_dups = new_batch.filter(F.col("_rn") > 1).drop("_rn")
    new_batch = new_batch.filter(F.col("_rn") == 1).drop("_rn")
    skipped_seen = skipped_seen.unionByName(batch_dups)

    # new_batch feeds the robots gate and the robots fetch list, the seen
    # update, metrics, AND the extraction anti-join — persist so the
    # window+anti-join subtree runs once per round, not once per consumer
    new_batch = new_batch.persist()

    # seen grows by every selected-for-processing canonical — BEFORE the
    # robots gate (crawler_node.py:256-258 precedes :264).  Children are
    # already in seen (added at enqueue), so the genuine additions are the
    # batch keys NOT in seen (≈ the seed rows) — an anti-join over the
    # small batch instead of a dropDuplicates shuffle over the full seen.
    batch_adds = new_batch.select(
        "url_hash", F.col("canonical_url").alias("url")
    ).join(seen.select("url_hash"), "url_hash", "left_anti")

    # -- robots: fetch-once-per-new-host, then broadcast-join gate ----------
    to_fetch = new_batch.unionByName(retries)
    need = robots.missing_hosts(to_fetch, robots_rules)
    fetched_rules = need.join(robots_src, "host", "left").select(
        "host", "rules_txt"
    )  # host missing from robots_src ⇒ null rules ⇒ permissive
    # `need` is anti-joined against robots_rules ⇒ disjoint; plain union
    robots_after = robots_rules.unionByName(fetched_rules)

    # ONE robots verdict per batch row: persisted, so the fetch stage's hit
    # and miss branches, the skipped_robots frontier rows and the
    # url_skipped metric all read the verdict the UDF computed once
    gated = robots.gate_on_robots(to_fetch, robots_after).persist()
    blocked = gated.filter(~F.col("robots_allowed")).drop("robots_allowed")
    allowed = gated.filter(F.col("robots_allowed")).drop("robots_allowed")

    # -- fetch + the page pass, materialized ONCE ---------------------------
    # fetched rows fan out to documents, link extraction, metrics and the
    # frontier-status branches.  ONE parquet write holds the round's fetch
    # results, parsed spans and resolved links: the fetch join runs once,
    # the round's one Python pass per page runs once, and everything after
    # the write is Catalyst over its columns.
    # fetch route: the closed-world fixture join (tests/bench — no Python
    # in the path) or, when cfg.extra["fetcher"] injects a request
    # callable, the REAL production stage — grouped applyInPandas per
    # (host, salt) with within-task pacing (sources/fetch.py)
    if cfg.extra.get("fetcher") is not None:
        from ..sources.fetch import fetch_over_network

        salted = allowed.withColumn(
            "host_salt",
            F.pmod(F.xxhash64(F.col("url")), F.lit(cfg.salt_buckets)).cast("int"),
        )
        raw_fetched = fetch_over_network(
            salted,
            min_interval_s=cfg.extra.get("fetch_min_interval", 1.0),
            fetcher=cfg.extra["fetcher"],
            pacer=cfg.extra.get("fetch_pacer"),
        ).drop("host_salt")
    else:
        raw_fetched = fetch_synthetic(allowed, web_pages)
    # the page pass (functions/html.py) parses every ok_html body — the
    # documents sink reads those spans — and resolves links only for pages
    # below their depth limit: a page AT its limit never feeds link
    # extraction (at max_depth=1 that is half the fetched pages), so its
    # base URL is masked to null.  Non-HTML 2xx bodies (PDFs etc. with a
    # production fetcher) and error rows reach it as null html.
    ok = F.col("fetch_outcome") == "ok_html"
    expandable = F.col("depth") < F.coalesce(F.col("depth_limit"), F.lit(cfg.max_depth))
    fetched_lazy = (
        classify_fetch(raw_fetched)
        .withColumn("_page", page_pass_udf(
            F.when(ok, F.col("html")),
            F.when(ok & expandable, F.coalesce(F.col("final_url"), F.col("url"))),
        ))
        .withColumn("spans", F.col("_page.spans"))
        .withColumn("links", F.col("_page.links"))
        .drop("_page")
    )
    _t = _phase(cfg, round_no, "plan_build_prefetch", _t)
    # NARROW round state (VERDICT r5 #2 / guide §8: "make every shuffle
    # but the last operate on a lightweight proxy"): with the closed-world
    # synthetic fetcher the raw ``html`` bodies are deterministically
    # re-derivable from ``web_pages`` by request URL, so the round-state
    # parquet — which every post-fetch consumer reads — omits the heaviest
    # column entirely; ``documents`` re-attaches html with one lazy join
    # that only executes if a caller materializes the documents sink.
    # With an injected production fetcher bodies are NOT refetchable and
    # stay inline.
    drop_html = cfg.extra.get("fetcher") is None
    # columnar round state: the status branches + metrics prune to the
    # narrow frontier columns; only documents/link extraction read the
    # heavy spans/links column chunks.  Read back with the known schema:
    # inferring it from the footers is one more job per round
    path = f"{scratch}/fetched_r{round_no:05d}"
    state_out = fetched_lazy.drop("html") if drop_html else fetched_lazy
    state_out.write.mode("overwrite").parquet(path)
    fetched = spark.read.schema(state_out.schema).parquet(path)
    _t = _phase(cfg, round_no, "fetch_materialize", _t)
    ok_html = fetched.filter(F.col("fetch_outcome") == "ok_html")

    # -- documents: one row per fetched HTML page ---------------------------
    doc_src = ok_html
    if drop_html:
        # re-attach bodies from the closed-world fixture: the fetch join
        # keyed html by the exact request url, so this reproduces the
        # dropped column bit-for-bit (left join — every ok_html row came
        # from a fixture hit by construction; fixture urls are unique,
        # see fetch_synthetic)
        doc_src = ok_html.join(
            web_pages.select("url", "html"), "url", "left"
        )
    documents = doc_src.select(
        F.coalesce(F.col("final_url"), F.col("url")).alias("doc_id"),
        F.col("canonical_url"),
        F.col("task_id"),
        F.col("depth"),
        F.lit(round_no).alias("round"),
        F.col("spans"),
        text_view(F.col("spans")).alias("text"),
        F.col("html"),
    )

    # -- link extraction → new frontier rows --------------------------------
    # enqueue-time global dedup: Bloom "definitely new" fast path + exact
    # anti-join confirm against the full enqueued-seen set (F2/F3 at scale).
    # The shard map was built from round-start `seen`, so run the Bloom
    # fast path against that set, then an exact anti-join against this
    # round's (small) batch additions which the shards don't cover yet
    fresh = seen_ops.filter_new(
        _extract_links(ok_html), seen, bloom, cfg.bloom_shards, cfg.bloom_bits_per_shard
    ).join(new_batch.select("url_hash"), "url_hash", "left_anti")
    dedup_w = Window.partitionBy("url_hash").orderBy(
        "child_depth", "parent_canonical", "link_pos"
    )
    # not persisted: `fresh` feeds the frontier, seen and metrics slices of
    # the round state, but its chain is a parquet scan, an explode and
    # Catalyst filters and windows — no Python — and a cache, with the
    # warm-up count that filled it, measured no faster (CHANGES.md)
    fresh = (
        fresh.withColumn("_rn", F.row_number().over(dedup_w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    new_frontier = fresh.select(
        F.col("canonical_url").alias("url"),  # children enqueue normalized
        F.col("canonical_url"),
        F.col("url_hash"),
        U.host_col(F.col("canonical_url")).alias("host"),
        F.col("child_depth").alias("depth"),
        F.col("depth_limit"),
        F.col("task_id"),
        F.col("domain_restriction"),
        F.lit("pending").alias("status"),
        F.lit(0).alias("attempts"),
        F.lit(round_no + 1).alias("round_added"),
        F.lit(None).cast("int").alias("round_processed"),
    )

    # `fresh` is anti-joined vs seen AND vs batch_adds ⇒ disjoint; union
    seen_delta = batch_adds.unionByName(
        new_frontier.select("url_hash", F.col("canonical_url").alias("url"))
    )

    # -- frontier state update ----------------------------------------------
    def finish(df: DataFrame, status: str, bump_attempts: bool = False) -> DataFrame:
        out = df.select(*[f.name for f in FRONTIER_SCHEMA.fields if f.name not in ("status", "attempts", "round_processed")],
                        "attempts")
        out = out.withColumn("status", F.lit(status)).withColumn(
            "round_processed", F.lit(round_no)
        )
        if bump_attempts:
            out = out.withColumn("attempts", F.col("attempts") + 1)
        return out.select([f.name for f in FRONTIER_SCHEMA.fields])

    # ONE pass over `fetched` settles all four fetch outcomes — status and
    # attempts are CASE expressions instead of four filter+union branches.
    # The union tree this removes was pure driver cost: every extra branch
    # is another Catalyst subtree to analyze and another AQE leaf stage to
    # schedule per round, and the round loop is the crawl's serial
    # fraction (VERDICT r3 #1a).
    oc = F.col("fetch_outcome")
    fetched_settled = (
        fetched.withColumn(
            "attempts",
            F.when(oc == "timeout", F.col("attempts") + 1).otherwise(
                F.col("attempts")
            ),
        )
        .withColumn(
            "status",
            F.when(oc == "ok_html", F.lit("fetched"))
            .when(oc == "ok_other", F.lit("skipped_non_html"))
            .when(oc == "timeout", F.lit("timeout"))
            .otherwise(F.lit("failed")),
        )
        .withColumn("round_processed", F.lit(round_no))
        .select([f.name for f in FRONTIER_SCHEMA.fields])
    )

    frontier_after = (
        settled.select([f.name for f in FRONTIER_SCHEMA.fields])
        .unionByName(deferred.select([f.name for f in FRONTIER_SCHEMA.fields]))
        .unionByName(finish(skipped_seen, "skipped_seen"))
        .unionByName(finish(blocked, "skipped_robots"))
        .unionByName(fetched_settled)
        .unionByName(new_frontier)
    )

    # -- metrics: per-partition lineage counts -------------------------------
    # ONE shuffle for all event streams: tag each cached branch and
    # aggregate the union in a single groupBy (separate groupBys =
    # separate exchanges = extra AQE sub-jobs per round of pure overhead)
    def tagged(df: DataFrame, node: str, event: str) -> DataFrame:
        return df.select(
            F.lit(node).alias("node_type"),
            F.lit(event).alias("event"),
            "task_id",
            "url",
            F.spark_partition_id().alias("partition_id"),
        )

    # urls_deferred / url_timeout_retryable let the driver detect
    # termination from the (tiny, collected) metrics alone — no extra
    # pending-scan job per round.  The three fetched-derived event streams
    # (crawled, indexed, retryable-timeout) ride ONE scan of `fetched` as
    # an exploded per-row event array instead of three filter branches —
    # same rows, a third of the leaf stages.  url_indexed carries the
    # doc_id (reference indexer logs the FINAL url, indexer_node.py:150).
    _ev = lambda node, event, url: F.struct(  # noqa: E731
        F.lit(node).alias("node_type"),
        F.lit(event).alias("event"),
        url.alias("url"),
    )
    fetched_events = fetched.select(
        "task_id",
        F.spark_partition_id().alias("partition_id"),
        F.explode(
            F.when(
                oc == "ok_html",
                F.array(
                    _ev("crawler", "url_crawled", F.col("url")),
                    _ev(
                        "indexer",
                        "url_indexed",
                        F.coalesce(F.col("final_url"), F.col("url")),
                    ),
                ),
            )
            .when(
                oc == "timeout",
                F.when(
                    F.col("attempts") + 1 < cfg.max_attempts,
                    F.array(_ev("crawler", "url_timeout_retryable", F.col("url"))),
                ).otherwise(
                    F.array().cast(
                        "array<struct<node_type:string,event:string,url:string>>"
                    )
                ),
            )
            .otherwise(
                F.array().cast(
                    "array<struct<node_type:string,event:string,url:string>>"
                )
            )
        ).alias("e"),
    ).select("e.node_type", "e.event", "task_id", "e.url", "partition_id")

    metrics = (
        tagged(new_batch, "master", "urls_scheduled")
        .unionByName(tagged(blocked, "crawler", "url_skipped"))
        .unionByName(tagged(new_frontier, "crawler", "new_urls_found"))
        .unionByName(tagged(deferred, "master", "urls_deferred"))
        .unionByName(fetched_events)
        .groupBy("node_type", "event", "task_id", "partition_id")
        .agg(F.count("*").alias("count"), F.min("url").alias("url"))
        .select(
            "node_type", "event", "task_id", "url", "count", "partition_id",
            F.lit(round_no).alias("round"),
        )
    )

    # Bloom maintenance keys come from seen_delta (exactly the keys by
    # which `seen` grows — the shard map tracks `seen` bit-for-bit)
    _phase(cfg, round_no, "plan_build_postfetch", _t)
    return {
        "frontier": frontier_after,
        "seen_delta": seen_delta,
        "robots_delta": fetched_rules,
        "documents": documents,
        "metrics": metrics,
        "_persisted": [windowed, new_batch, gated],
    }


# the round state: four logical tables in ONE `_tbl`-tagged union —
# tag: (run_round output, store table kind).  seen and robots are the
# round's deltas: both modes hold the full sets as unions of delta slices
_ROUND_STATE = {
    "frontier": ("frontier", "state"),
    "seen": ("seen_delta", "append"),
    "metrics": ("metrics", "append"),
    "robots": ("robots_delta", "append"),
}

_RETRYABLE_EVENTS = {"urls_deferred", "url_timeout_retryable", "new_urls_found"}

# DISK_ONLY keeps round history OFF the driver heap — deserialized
# in-memory checkpoints accumulate across rounds and trigger GC storms;
# "disk" is spark.local.dir (tmpfs-if-roomy here, local SSD on a real
# cluster), so reads stay fast
_CK = {"eager": True, "storageLevel": StorageLevel.DISK_ONLY}


def _collect_small(
    metrics: DataFrame, seen_delta: DataFrame, cfg: CrawlConfig, round_no: int, t: float
):
    """ONE Arrow-backed collect of a round's metric counts and its
    seen-delta keys for the Bloom update.

    Two corruption/safety rules, both learned the hard way (ADVICE r2):
    - the keys ride as STRINGS: the metric rows carry a null key, and
      Arrow's null-int64 → float64 pandas conversion silently rounds away
      the low bits of xxhash64 keys (53-bit mantissa) — the Bloom map would
      then track the WRONG keys and re-linked URLs would be re-crawled.
      Decimal strings round-trip exactly.
    - the slice is LIMIT-bounded to bloom_delta_collect_max+1: a
      breadth-explosion round can never pull an oversized delta through
      the driver; hitting the bound makes ``_update_bloom`` fall back to
      the distributed shard build.

    Returns ``(pending count, key strings, now)``; the pending count is
    the sum of the round's ``_RETRYABLE_EVENTS`` counts (see run_crawl).
    """
    keys_slice = (
        seen_delta.select(F.col("url_hash").cast("string").alias("url_hash_str"))
        .limit(cfg.bloom_delta_collect_max + 1)
        .withColumn("_tbl", F.lit("seen"))
    )
    small = metrics.select("event", "count", F.lit("metrics").alias("_tbl")).unionByName(
        keys_slice, allowMissingColumns=True
    )
    t = _phase(cfg, round_no, "collect_plan_build", t)
    pdf = small.toPandas()
    t = _phase(cfg, round_no, "collect_small", t)
    pending = pdf.loc[pdf["event"].isin(_RETRYABLE_EVENTS), "count"].sum()
    return int(pending), pdf.loc[pdf["_tbl"] == "seen", "url_hash_str"], t


def _latest_documents(documents: DataFrame) -> DataFrame:
    """Last-write-wins document surface (reference ES upsert keyed by URL,
    indexer_node.py:145-156): the round log is append-only; the returned
    `documents` collapses re-crawled URLs to their newest version.  With
    the in-run seen-set this is the identity — it matters on resume-
    after-reset / forced-refresh crawls where a URL re-enters the
    frontier.  One key-partitioned window, no global ordering."""
    from ..operators.dedup import keep_latest

    return keep_latest(documents, ["canonical_url"], "round", tiebreak_col="doc_id")


def _update_bloom(
    bloom: dict[int, bytes], keys, seen_delta: DataFrame, cfg: CrawlConfig
) -> dict[int, bytes]:
    """Insert a round's seen-delta keys into the shard map.

    ``keys`` is the delta's key slice as collected by ``_collect_small``.
    Under the bound it is the whole delta: exact int64 keys via a C-speed
    decimal-string parse, then one vectorized numpy insert driver-side.  At
    the bound the delta is too big to transit the driver — a breadth-y
    round at 10^10-URL scale adds billions of keys — so the distributed
    ``build_bloom_shards`` runs over ``seen_delta`` and its shard blobs are
    bitwise-ORed into the map (``or_shards``).  Both paths are
    bit-identical (tests/test_seen.py::test_bloom_delta_paths_identical).
    """
    if len(keys) <= cfg.bloom_delta_collect_max:
        return seen_ops.bloom_insert_driver(
            bloom, keys.to_numpy().astype(np.int64),
            cfg.bloom_shards, cfg.bloom_bits_per_shard,
        )
    shards_df = seen_ops.build_bloom_shards(
        seen_delta, cfg.bloom_shards, cfg.bloom_bits_per_shard
    )
    return seen_ops.or_shards(bloom, seen_ops.shards_to_dict(shards_df))


def _scratch_dir(spark: SparkSession) -> str:
    """Per-run scratch dir for the columnar round-state materializations —
    a subdir of Spark's OWN managed local dir (local SSD / tmpfs), so the
    JVM shutdown hook deletes it with the rest of the app's scratch; keyed
    by app id so concurrent sessions never collide, and suffixed per
    INVOCATION: two run_crawl calls in one session must not collide — the
    second would overwrite fetched_r* parquet the first run's returned
    (lazy) DataFrames still reference."""
    sc = spark.sparkContext
    try:
        managed = sc._jvm.org.apache.spark.util.Utils.getLocalDir(sc._jsc.sc().conf())
    except Exception:  # py4j surface moved — fall back to the raw conf dir
        managed = sc.getConf().get("spark.local.dir", "/tmp").split(",")[0]
    return f"{managed}/crawl-{sc.applicationId}-{next(_RUN_SEQ)}"


def run_crawl(
    spark: SparkSession,
    seed_jobs: DataFrame,
    web_pages: DataFrame,
    robots_src: DataFrame,
    cfg: CrawlConfig,
    store: SnapshotStore | None = None,
    resume: bool = False,
) -> dict[str, DataFrame]:
    """Driver round loop with snapshot commit + resume.

    Gives the termination detection the reference lacks (SURVEY.md §3.1):
    stop when no retryable rows remain or max_rounds hit.  With ``store``
    each round commits atomically; ``resume=True`` continues from the last
    committed round (bit-identical to an uninterrupted run — verified by
    tests/test_resume.py).  Without, each round lands in one in-driver
    checkpoint.  The two modes differ ONLY in that materialize step: the
    round state, its slices, the stop rule and the Bloom update below are
    the same code for both.

    The returned ``metrics`` is an event log, not a round log: a round
    that only re-fetches final-attempt timeouts emits no metric row, so
    its distinct ``round`` values can undercount the rounds run.  Count
    rounds from ``cfg.extra["phase_log"]`` or ``store.current_round() + 1``.
    """
    if resume:
        assert store is not None and store.current_round() >= 0
        start_round = store.current_round() + 1
        frontier, seen, robots_rules, documents, metrics = (
            store.read(t) for t in ("frontier", "seen", "robots", "documents", "metrics")
        )
        # built once from the committed seen table before the first round —
        # thereafter updated incrementally from round deltas
        bloom = None
    else:
        start_round = 0
        valid_jobs, _rejected = validate_seed_jobs(seed_jobs)
        jobs = dedupe_seed_jobs(valid_jobs)
        # materialize once: the seed subtree (explode + canonicalize UDFs)
        # is referenced by many round-0 branches and would otherwise
        # re-execute per consumer
        frontier = seeds_to_frontier(spark, jobs).localCheckpoint()
        seen = _empty(spark, SEEN_SCHEMA)
        robots_rules = _empty(spark, ROBOTS_SCHEMA)
        documents = _empty(spark, DOCUMENTS_SCHEMA)
        metrics = _empty(spark, METRICS_SCHEMA)
        # the shard map tracks `seen` key for key.  A fresh crawl's seen
        # table is empty, so its map is the empty map (no key inserted) —
        # no shard build job over a table known to hold no rows
        bloom = {}

    # state tables are re-materialized every round; without an explicit
    # repartition the 9-branch frontier union COMPOUNDS partitions across
    # rounds (round 4 reached ~1600 near-empty partitions — pure task
    # overhead that grows with core count).  Normalizing to a fixed
    # url_hash bucketing also gives next round's anti-joins a stable
    # co-partitioning.  (At 10^10 scale the same normalization is the
    # Iceberg state-table write: bucket(url_hash) partitioning.)
    n_buckets = spark.sparkContext.defaultParallelism
    scratch = _scratch_dir(spark)
    extras = {"config": {"budget": cfg.politeness_budget,
                         "max_depth": cfg.max_depth,
                         "salt_buckets": cfg.salt_buckets}}

    # ONE exact count before the first round (the frontier is a checkpoint
    # or a committed table — counting it is metadata-cheap); thereafter the
    # round's collected metric rows give the exact retryable count entering
    # the next round: deferred + retryable timeouts + newly enqueued URLs
    # (every other row is settled).  It is the stop rule, and lets
    # run_round skip provably-identity windowing on under-budget rounds.
    pending = frontier.filter(_retryable(cfg)).count()
    for round_no in range(start_round, cfg.max_rounds):
        if pending == 0:
            break
        if bloom is None:
            bloom = seen_ops.shards_to_dict(seen_ops.build_bloom_shards(
                seen, cfg.bloom_shards, cfg.bloom_bits_per_shard
            ))
        out = run_round(
            spark, round_no, frontier, seen, robots_rules,
            web_pages, robots_src, cfg, bloom, scratch, pending_hint=pending,
        )
        # documents is a narrow select over the round's fetched parquet —
        # no second serialization pass needed; with a store it is the one
        # table written apart from the round state (padded into the
        # url_hash-keyed union, every document row would land in the one
        # null-key partition)
        out["documents"] = out["documents"].coalesce(n_buckets)
        t = time.perf_counter()
        # Every Spark ACTION costs planning + per-stage scheduling latency
        # that no executor count amortizes, and this loop is the crawl's
        # serial (Amdahl) fraction.  So the round's four state products
        # materialize as ONE union-tagged product (schemas padded with
        # nulls) and split back out as narrow filters over it.
        parts = {tbl: out[key] for tbl, (key, _) in _ROUND_STATE.items()}
        state = functools.reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True),
            (df.withColumn("_tbl", F.lit(tbl)) for tbl, df in parts.items()),
        ).repartition(n_buckets, "url_hash")
        t = _phase(cfg, round_no, "state_plan_build", t)
        if store is None:
            state = state.localCheckpoint(**_CK)
            t = _phase(cfg, round_no, "state_checkpoint", t)
        else:
            # one partitioned round-state write + the documents append,
            # then the atomic publish; the union comes back read from it
            tags = {tbl: (kind, parts[tbl].schema)
                    for tbl, (_, kind) in _ROUND_STATE.items()}
            state = store.commit_round(
                round_no, {"documents": (out["documents"], "append")},
                extras=extras, union=(state, tags),
            )
            t = time.perf_counter()  # the commit stays outside the phase log
        frontier, seen_delta, round_metrics, robots_delta = (
            state.filter(F.col("_tbl") == tbl).select(parts[tbl].columns)
            for tbl in _ROUND_STATE
        )
        # seen and robots grow append-only: the round DELTA is a narrow
        # slice of the round state and the full set stays a lazy union of
        # those slices — never rewrites crawl history.  Compact
        # periodically so partition count stays bounded on long crawls.
        seen = seen.unionByName(seen_delta)
        robots_rules = robots_rules.unionByName(robots_delta)
        if (round_no + 1) % 8 == 0:
            seen = seen.repartition(n_buckets, "url_hash").localCheckpoint(**_CK)
            robots_rules = robots_rules.coalesce(1).localCheckpoint(**_CK)
        documents = documents.unionByName(out["documents"])
        metrics = metrics.unionByName(round_metrics)
        # metric rows and Bloom keys are collected only when another round
        # can follow: no round probes the shard map after the last one
        if round_no + 1 < cfg.max_rounds:
            pending, keys, t = _collect_small(round_metrics, seen_delta, cfg, round_no, t)
            if pending:
                bloom = _update_bloom(bloom, keys, seen_delta, cfg)
        _phase(cfg, round_no, "driver_bookkeeping", t)
        for df in out["_persisted"]:
            df.unpersist()
    return {
        "frontier": frontier,
        "seen": seen,
        "documents": _latest_documents(documents),
        "metrics": metrics,
        "robots": robots_rules,
    }


__all__ = [
    "CrawlConfig",
    "FRONTIER_SCHEMA",
    "seeds_to_frontier",
    "dedupe_seed_jobs",
    "validate_seed_jobs",
    "run_round",
    "run_crawl",
]
