"""Crawl + index + search benchmark.

    python3 crawlbench/run.py --workload crawl_wide --seed 1 --seconds 3 --trace 0

One run is one pass through the system on ``local[N]`` (N = usable
cores), driven by one client with no extra threads:

1. set-up: start the session, then generate the synthetic web SETUP_REPS
   times (the median generation time counts);
2. a batch crawl job: ``run_crawl`` until its final frontier is
   collected.  One crawl job lasts far longer than ``--seconds``.

A traced run (``--trace 1``) goes on, after the crawl, with
3. an index build over a generated document log: last-write-wins,
   near-dup clusters, postings and doc norms, the term-bucketed segment
   index;
4. a closed loop of queries (BM25, multi-field and partitioned top-k in
   turn), whole rotations for at least ``--seconds`` seconds, appending
   a segment of re-indexed documents before each query but the first.
The index build and the queries are not part of an untraced run: on a
shared 4-core host, measurements that short spread too far from run to
run to gate a change (crawlbench/METRICS.md).

Outputs are checked after the timed parts: the crawl against
``tests/oracle.py``, every query against a pure-Python scorer.  The last
stdout line is one JSON object: the end-to-end metrics with
``--trace 0``; with ``--trace 1`` the per-layer metrics, from spans the
benchmark records around its layer calls, ``statusTracker`` job groups
and a Spark event log.  Run it from the repository root.  A run's
scratch files go to ``crawlbench/.work/run-<pid>/`` and are deleted at
exit; cached oracle digests and the spans of traced runs stay in
``crawlbench/.work/``.  See crawlbench/METRICS.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import sys
import time
import types
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

from pyspark.sql import functions as F  # noqa: E402

from distributed_web_crawling_and_indexing_system_gcp_spark.operators import (  # noqa: E402
    dedup as DD,
    search as SE,
)
from distributed_web_crawling_and_indexing_system_gcp_spark.plans.crawl import (  # noqa: E402
    CrawlConfig,
    run_crawl,
)
from distributed_web_crawling_and_indexing_system_gcp_spark.session import (  # noqa: E402
    build_session,
)
from distributed_web_crawling_and_indexing_system_gcp_spark.sources import (  # noqa: E402
    webgen,
)
from distributed_web_crawling_and_indexing_system_gcp_spark.sources.snapshots import (  # noqa: E402
    SnapshotStore,
)

import checks as C  # noqa: E402
import layers  # noqa: E402
import workloads as WL  # noqa: E402
from tracing import Tracer, descendants, event_log_summary, tree_peak_rss_mb  # noqa: E402

T0 = time.perf_counter()
SETUP_REPS = 3
DRIVER_MEM = "4g"
CRAWL_BASE = dict(salt_buckets=8, bloom_shards=32, bloom_bits_per_shard=1 << 20)


def mark(label: str) -> None:
    print(f"[{time.perf_counter() - T0:6.1f}s] {label}", file=sys.stderr, flush=True)


def n_cores() -> int:
    return len(os.sched_getaffinity(0))


def isolate(work: str) -> None:
    """Keep what Spark, the JVM and the Python workers write inside
    ``work``, and make the package importable in the UDF workers."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # a fixed driver heap: the session's default is half of host memory,
    # which would make peak_rss_mb a property of the machine
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def start_session(cores: int, work: str, event_log: str | None = None):
    conf = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.eventLog.enabled": "true" if event_log else "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf["spark.eventLog.dir"] = f"file://{event_log}"
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return build_session(
        app_name="crawlbench", master=f"local[{cores}]",
        shuffle_partitions=cores, extra_conf=conf,
    )


def seed_jobs(spark, w: WL.Workload, urls: list[str]):
    """The crawl's input: one seed job holding every seed URL."""
    return spark.createDataFrame(
        [("bench", urls, w.depth, None)],
        "task_id string, seed_urls array<string>, depth int, "
        "domain_restriction string",
    )


class Fixtures:
    """The generated inputs of one run, as cached DataFrames.  The
    document log is only generated for a run that indexes it."""

    def __init__(self, spark, w: WL.Workload, seed: int, with_log: bool):
        self.seed_urls = WL.seed_urls(w, seed)
        self.web = webgen.make_web_pages(
            spark, w.n_pages, WL.N_HOSTS, w.richness, zipf_s=w.zipf_s
        ).persist()
        self.web.count()
        self.robots = webgen.make_robots_src(spark, WL.N_HOSTS).persist()
        self.robots.count()
        self.seeds = seed_jobs(spark, w, self.seed_urls)
        self.log = None
        if with_log:
            self.corpus = WL.corpus(w, seed)
            self.log = spark.createDataFrame(
                self.corpus.log, "doc_no long, url string, version int, text string"
            ).persist()
            self.log.count()

    def release(self) -> None:
        for df in (self.web, self.robots, self.log):
            if df is not None:
                df.unpersist()


def set_up(spark, w, seed: int, reps: int, with_log: bool):
    """Generate the fixtures ``reps`` times; returns the last set and the
    median generation time."""
    times, fx = [], None
    for _ in range(reps):
        if fx is not None:
            fx.release()
        t = time.perf_counter()
        fx = Fixtures(spark, w, seed, with_log)
        times.append(time.perf_counter() - t)
    return fx, statistics.median(times)


class TimedStore(SnapshotStore):
    """A SnapshotStore that records a span around each round commit."""

    def __init__(self, root: str, spark, tracer: Tracer):
        super().__init__(root, spark)
        self.tracer = tracer

    def commit_round(self, *args, **kwargs):
        with self.tracer.span("snapshots.commit"):
            return super().commit_round(*args, **kwargs)


def crawl_config(w, phase_log: list | None = None) -> CrawlConfig:
    return CrawlConfig(
        max_depth=w.depth, politeness_budget=w.budget, max_rounds=WL.MAX_ROUNDS,
        extra={} if phase_log is None else {"phase_log": phase_log},
        **CRAWL_BASE,
    )


def crawl(spark, w, fx, work: str, tracer: Tracer, phase_log=None):
    """The batch crawl job, timed until its final frontier is collected.
    Returns (seconds, frontier rows, run_crawl output, store or None)."""
    store = None
    if w.store:
        root = os.path.join(work, f"store-{time.monotonic_ns()}")
        store = (TimedStore(root, spark, tracer) if tracer.enabled
                 else SnapshotStore(root, spark))
    cfg = crawl_config(w, phase_log)
    spark.sparkContext.setJobGroup("crawl", f"{w.name} crawl")
    t = time.perf_counter()
    with tracer.span("plans.crawl"):
        out = run_crawl(spark, fx.seeds, fx.web, fx.robots, cfg, store=store)
        with tracer.span("crawl.collect_frontier"):
            rows = [
                tuple(r)
                for r in out["frontier"]
                .select("canonical_url", "depth", "status", "round_processed")
                .collect()
            ]
    dt = time.perf_counter() - t
    spark.sparkContext.setJobGroup("checks", "outside the timed region")
    return dt, rows, out, store


def check_crawl(w, fx, rows, out) -> list[str]:
    """Digest of the engine's result vs the oracle's on the same inputs;
    returns the names of the digest fields that differ."""
    seen = [r[0] for r in out["seen"].select("url").collect()]
    got = C.crawl_digest(((u, d, s) for u, d, s, _ in rows), seen)
    web_rows = {r["url"]: r.asDict() for r in fx.web.collect()}
    robots_rows = {r["host"]: r["rules_txt"] for r in fx.robots.collect()}
    seed_rows = [{"task_id": "bench", "seed_urls": fx.seed_urls,
                  "depth": w.depth, "domain_restriction": None}]
    cfg = crawl_config(w)
    # the expected digest is cached by a hash of every oracle input
    h = hashlib.sha256(repr((
        sorted((u, tuple(sorted(r.items()))) for u, r in web_rows.items()),
        sorted(robots_rows.items()), seed_rows, cfg.max_depth,
        cfg.politeness_budget, cfg.max_attempts, cfg.max_rounds,
    )).encode()).hexdigest()[:24]
    cache = os.path.join(HERE, ".work", "oracle", f"{w.name}-{h}.json")
    try:
        with open(cache) as fh:
            want = json.load(fh)
    except FileNotFoundError:
        want = C.oracle_digest(seed_rows, web_rows, robots_rows, cfg)
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        with open(cache + f".{os.getpid()}", "w") as fh:
            json.dump(want, fh)
        os.replace(cache + f".{os.getpid()}", cache)
    return C.diff_digest(got, want)


def build_index(spark, fx, work: str, tracer: Tracer):
    """Document log → deduped, saved, searchable index.  Returns
    (seconds, index paths, dropped near-duplicate doc numbers, the
    last-write-wins documents)."""
    idx = {k: os.path.join(work, "index", k) for k in
           ("postings", "doclens", "url_postings", "url_doclens", "segments")}
    spark.sparkContext.setJobGroup("index", "index build")
    t = time.perf_counter()
    with tracer.span("dedup.keep_latest"):
        latest = DD.keep_latest(fx.log, ["doc_no"], "version").persist()
        latest.count()
    with tracer.span("dedup.near_dup"):
        clusters = DD.near_dup_clusters(latest, "doc_no", "text").collect()
    drops = {int(d) for c in clusters for d in c["dup_ids"].split(",")}
    drops -= {int(c["keep_id"]) for c in clusters}
    docs = latest.filter(~F.col("doc_no").isin(sorted(drops)))
    with tracer.span("search.build_postings"):
        SE.build_postings(docs, "doc_no", "text").write.parquet(idx["postings"])
        postings = spark.read.parquet(idx["postings"])
        SE.doc_lengths(postings).write.parquet(idx["doclens"])
        SE.build_url_postings(docs, "doc_no", "url").write.parquet(
            idx["url_postings"]
        )
        SE.doc_lengths(spark.read.parquet(idx["url_postings"])).write.parquet(
            idx["url_doclens"]
        )
    with tracer.span("search.save"):
        SE.append_postings_segment(
            postings, idx["segments"], seg=0, num_buckets=WL.NUM_BUCKETS
        )
    dt = time.perf_counter() - t
    spark.sparkContext.setJobGroup("checks", "outside the timed region")
    return dt, idx, drops, latest


def query_stream(spark, w, seed, fx, idx, drops, seconds, tracer):
    """Closed loop, one client: each query is sent when the previous one
    has returned.  Before every query but the first, a segment of
    re-indexed documents is appended to the term-bucketed index.

    Before the loop the serving side loads the postings and doc norms
    into memory.  The loop runs whole rotations of the query kinds for at
    least ``seconds``.  Returns (results, append seconds,
    appended segments, indexed doc count, failed appends); a result is
    (kind, terms, appends before it, rows or None, seconds)."""
    P, DL, UP, UDL = (
        spark.read.parquet(idx[k]).persist()
        for k in ("postings", "doclens", "url_postings", "url_doclens")
    )
    for df in (P, UP, UDL):
        df.count()
    n_docs = DL.count()
    search = {
        "bm25": lambda t: SE.search_bm25(P, t, k=WL.TOP_K, doclens=DL),
        "multifield": lambda t: SE.search_multifield(
            {"content": P, "url": UP}, t, k=WL.TOP_K,
            field_doclens={"content": DL, "url": UDL},
        ),
        "partitioned": lambda t: SE.search_partitioned(
            spark, idx["segments"], t, k=WL.TOP_K,
            num_buckets=WL.NUM_BUCKETS, n_docs=n_docs,
        ),
    }
    qs = WL.queries(w, seed)
    results, appends, segments, failed = [], [], [], 0

    def query() -> None:
        kind, terms = next(qs)
        t = time.perf_counter()
        try:
            with tracer.span(f"search.{kind}"):
                rows = [tuple(r) for r in search[kind](terms)
                        .select("doc", "rank", "score").collect()]
        except Exception as e:  # noqa: BLE001 — counted, the run goes on
            print(f"query {len(results)} failed: {e!r}", file=sys.stderr)
            rows = None
        results.append(
            (kind, terms, len(appends), rows, time.perf_counter() - t)
        )

    spark.sparkContext.setJobGroup("queries", "query stream")
    t_end = time.perf_counter() + seconds
    n = 0
    while time.perf_counter() < t_end or n % len(WL.QUERY_KINDS) or not appends:
        if n:
            seg_no = len(appends) + 1
            # re-indexed docs that near-dup dedup dropped stay dropped
            segments.append(
                [d for d in fx.corpus.segment(seg_no) if d[0] not in drops]
            )
            seg_df = spark.createDataFrame(
                segments[-1], "doc_no long, url string, text string"
            )
            t = time.perf_counter()
            try:
                with tracer.span("search.append"):
                    SE.append_postings_segment(
                        SE.build_postings(seg_df, "doc_no", "text"),
                        idx["segments"], seg=seg_no, num_buckets=WL.NUM_BUCKETS,
                    )
            except Exception as e:  # noqa: BLE001 — counted, the run goes on
                print(f"append {seg_no} failed: {e!r}", file=sys.stderr)
                failed += 1
            appends.append(time.perf_counter() - t)
        query()
        n += 1
    spark.sparkContext.setJobGroup("checks", "outside the timed region")
    return results, appends, segments, n_docs, failed


def _postings(docs):
    """(term, doc, tf) rows the index should hold: lower-cased whitespace
    tokens for text, lower-cased alphanumeric runs for URLs."""
    for d, text, url in docs:
        for term, tf in Counter(text.lower().split()).items():
            yield "body", term, d, tf
        for term, tf in Counter(t for t in re.split(r"[^a-z0-9]+", url.lower()) if t).items():
            yield "url", term, d, tf


def check_queries(fx, drops, results, segments, n_docs) -> int:
    """Pure-Python top-k of every query; returns the number of queries
    that failed or disagree with it."""
    latest: dict[int, tuple] = {}
    for doc, url, version, text in fx.corpus.log:
        if doc not in latest or version > latest[doc][0]:
            latest[doc] = (version, text, url)
    rows = list(_postings((d, t, u) for d, (_, t, u) in latest.items() if d not in drops))
    body = C.Field((t, d, tf) for f, t, d, tf in rows if f == "body")
    urls = C.Field((t, d, tf) for f, t, d, tf in rows if f == "url")
    # state of the segmented index after each append
    states = [C.Field((t, d, tf) for f, t, d, tf in rows if f == "body")]
    for seg in segments:
        nxt = states[-1].copy()
        nxt.replace_docs(
            (t, d, tf) for f, t, d, tf in _postings((d, text, u) for d, u, text in seg)
            if f == "body"
        )
        states.append(nxt)
    bad = 0
    for kind, terms, n_app, got, _ in results:
        if got is None:
            bad += 1
            continue
        if kind == "bm25":
            scores = body.bm25(terms)
        elif kind == "multifield":
            scores = C.multifield([body, urls], terms)
        else:
            scores = states[n_app].tfidf(terms, n_docs)
        got = [(d, r, round(s, C.SCORE_DIGITS)) for d, r, s in got]
        if not C.same_topk(got, scores, WL.TOP_K):
            print(f"mismatch {kind} {terms}: {got[:3]} vs {C.topk(scores)[:3]}",
                  file=sys.stderr)
            bad += 1
    return bad


def run(w, args, work: str) -> dict:
    cores = n_cores()
    trace = bool(args.trace)
    tracer = Tracer(f"{w.name}-{args.seed}-{os.getpid()}", enabled=trace)
    events = os.path.join(work, "events") if trace else None
    t = time.perf_counter()
    with tracer.span("session.start"):
        spark = start_session(cores, work, events)
    session_s = time.perf_counter() - t
    mark("session started")
    with tracer.span("webgen.gen"):
        fx, gen_s = set_up(spark, w, args.seed, 1 if trace else SETUP_REPS,
                           with_log=trace)
    mark("fixtures generated")
    phase_log: list | None = [] if trace else None
    wall0 = time.time()
    crawl_s, frontier, out, store = crawl(spark, w, fx, work, tracer, phase_log)
    crawl_window = (wall0, time.time())
    fetched = sum(1 for r in frontier if r[2] == "fetched")
    rss, rss_parts = tree_peak_rss_mb()
    mark("crawled")

    crawl_diff = check_crawl(w, fx, frontier, out)
    if crawl_diff:
        print(f"crawl digest mismatch: {crawl_diff}", file=sys.stderr)
    mark("crawl checked")
    failed, attempted = (1 if crawl_diff else 0), 1
    print(f"{w.name} seed={args.seed}: crawl {crawl_s:.2f}s ({fetched} pages), "
          f"{'failed' if failed else 'correct'}; "
          f"{time.perf_counter() - T0:.1f}s since start; peak RSS MB "
          f"{ {k: round(v) for k, v in rss_parts.items()} }", file=sys.stderr)
    metrics = {
        "setup_s": (session_s + gen_s, "s"),
        "crawl_s": (crawl_s, "s"),
        "pages_per_s": (fetched / crawl_s, "pages/s"),
        "peak_rss_mb": (rss, "MB"),
    }
    if not trace:
        spark.stop()
        mark("stopped")
    else:
        print("end-to-end, traced: " + json.dumps(
            {k: round(v, 3) for k, (v, _) in metrics.items()}), file=sys.stderr)
        index_s, idx, drops, latest = build_index(spark, fx, work, tracer)
        mark("indexed")
        results, appends, segments, n_docs, append_failed = query_stream(
            spark, w, args.seed, fx, idx, drops, args.seconds, tracer
        )
        mark("queried")
        bad_queries = check_queries(fx, drops, results, segments, n_docs)
        failed += bad_queries + append_failed
        attempted += 1 + len(results) + len(appends)
        print(f"index {index_s:.2f}s, {len(results)} queries "
              f"({', '.join(f'{r[0]} {r[4] * 1e3:.0f}' for r in results)} ms), "
              f"{len(appends)} appends, {failed} failed of {attempted}",
              file=sys.stderr)
        metrics = traced_metrics(
            spark, w, args, work, cores, tracer, fx, out, store, latest, idx,
            index_s, results, phase_log, crawl_window, session_s, gen_s,
        )
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def traced_metrics(spark, w, args, work, cores, tracer, fx, out, store, latest,
                   idx, index_s, results, phase_log, crawl_window, session_s,
                   gen_s) -> dict:
    """Per-layer metrics of a traced run (see crawlbench/METRICS.md)."""
    m: dict[str, tuple] = {}
    spark.sparkContext.setJobGroup("layers", "per-layer measurements")
    m.update(layers.crawl_layers(spark, fx, out, crawl_config(w), cores))
    mark("crawl layers measured")
    pairs, true_share = layers.dedup_pairs(spark, latest)
    m["dedup.candidate_pairs"] = (pairs, "count")
    m["dedup.true_pair_share"] = (true_share, "share")
    m["search.buckets_read_share"] = (
        layers.buckets_read_share(
            spark, [r[1] for r in results if r[0] == "partitioned"],
            WL.NUM_BUCKETS,
        ),
        "share",
    )
    jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup("crawl"))
    # the reruns below read the generated web back instead of generating it
    # again in each new session
    web_path = os.path.join(work, "web")
    fx.web.write.parquet(web_path)
    if store is not None:
        mb = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(store.root) for f in fs
        ) / 2**20
    else:
        mb = 0.0
    spark.stop()
    mark("layers measured")

    ev = event_log_summary(os.path.join(work, "events"), "crawl", crawl_window)
    phases = Counter()
    for _, name, sec in phase_log:
        phases[name] += sec
    self_t = tracer.self_times()
    lat = {k: [r[4] * 1e3 for r in results if r[0] == k]
           for k in WL.QUERY_KINDS}
    commits = tracer.durations("snapshots.commit")
    m.update({
        "crawl.rounds": (len({r for r, _, _ in phase_log}), "count"),
        "crawl.jobs": (jobs, "count"),
        "crawl.stages": (ev["stages"], "count"),
        "crawl.tasks": (ev["tasks"], "count"),
        "crawl.task_busy_s": (ev["task_busy_s"], "s"),
        "crawl.jvm_cpu_s": (ev["jvm_cpu_s"], "s"),
        "crawl.driver_gap_s": (ev["driver_gap_s"], "s"),
        "crawl.shuffle_write_mb": (ev["shuffle_write_mb"], "MB"),
        "crawl.phase.fetch_materialize_s": (phases["fetch_materialize"], "s"),
        "crawl.phase.state_checkpoint_s": (phases["state_checkpoint"], "s"),
        "crawl.phase.plan_build_s": (
            sum(v for k, v in phases.items() if "plan_build" in k), "s"),
        "crawl.phase.collect_small_s": (phases["collect_small"], "s"),
        "crawl.phase.warmup_count_s": (phases["warmup_count"], "s"),
        "crawl.self_s": (self_t.get("plans.crawl", 0.0), "s"),
        "crawl.unphased_s": (self_t.get("plans.crawl", 0.0) - sum(phases.values()), "s"),
        "snapshots.commit_s": (statistics.median(commits) if commits else 0.0, "s"),
        "snapshots.mb_written": (mb, "MB"),
        "session.start_s": (session_s, "s"),
        "webgen.gen_s": (gen_s, "s"),
        "index.build_s": (index_s, "s"),
        "dedup.keep_latest_s": (self_t["dedup.keep_latest"], "s"),
        "dedup.near_dup_s": (self_t["dedup.near_dup"], "s"),
        "search.build_postings_s": (self_t["search.build_postings"], "s"),
        "search.save_s": (self_t["search.save"], "s"),
        "search.append_s": (statistics.median(tracer.durations("search.append")), "s"),
        "search.query_ms_p50": (
            statistics.median([r[4] * 1e3 for r in results]), "ms"),
        "search.bm25_ms_p50": (statistics.median(lat["bm25"]), "ms"),
        "search.multifield_ms_p50": (statistics.median(lat["multifield"]), "ms"),
        "search.partitioned_ms_p50": (statistics.median(lat["partitioned"]), "ms"),
    })
    # the same crawl twice more, in new sessions of this process whose JVM
    # is now warm: untraced and traced, for the tracing overhead.  Which
    # goes first alternates with the seed's parity, as the second of two
    # warm crawls tends to be the faster.
    crawl_s_of = {
        traced: rerun_crawl(w, fx, web_path, work, cores, traced=traced)
        for traced in ((True, False) if args.seed % 2 else (False, True))
    }
    mark("crawl rerun, untraced and traced")
    untraced, traced = crawl_s_of[False], crawl_s_of[True]
    m["trace.crawl_s_untraced"] = (untraced, "s")
    m["trace.crawl_s_traced"] = (traced, "s")
    m["trace.overhead_share"] = (traced / untraced - 1.0, "share")
    m["trace.crawl_span_sum_s"] = (
        sum(self_t.get(k, 0.0) for k in
            ("plans.crawl", "crawl.collect_frontier", "snapshots.commit")), "s")
    tracer.write(os.path.join(HERE, ".work", f"spans-{w.name}-{args.seed}.jsonl"))
    return m


def rerun_crawl(w, fx, web_path: str, work: str, cores: int, traced: bool) -> float:
    """crawl_s of the workload's crawl in a new session on ``cores`` cores,
    on the web saved at ``web_path``; ``traced`` turns on what a traced
    run adds: the event log, the phase log and spans."""
    spark = start_session(cores, work, os.path.join(work, f"events-{time.monotonic_ns()}")
                          if traced else None)
    try:
        web = spark.read.parquet(web_path).persist()
        web.count()
        inputs = types.SimpleNamespace(
            web=web, robots=webgen.make_robots_src(spark, WL.N_HOSTS),
            seeds=seed_jobs(spark, w, fx.seed_urls),
        )
        return crawl(spark, w, inputs, work, Tracer("rerun", enabled=traced),
                     [] if traced else None)[0]
    finally:
        spark.stop()


def stop_processes() -> None:
    """Shut the JVM down and wait until it and every process it started
    (the Python worker daemon and its workers) has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        os.kill(pid, signal.SIGKILL)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WL.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    isolate(work)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(WL.WORKLOADS[args.workload], args, work)
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
