"""Checkpoint/resume (north rule T7): a run killed after round k and
resumed from the snapshot store produces bit-identical final tables vs an
uninterrupted run; half-written (uncommitted) data is invisible."""

from __future__ import annotations

import json
import os

import pytest

from distributed_web_crawling_and_indexing_system_gcp_spark.plans.crawl import (
    CrawlConfig,
    run_crawl,
)
from distributed_web_crawling_and_indexing_system_gcp_spark.sources.snapshots import (
    SnapshotStore,
)

CFG = CrawlConfig(
    max_depth=2,
    politeness_budget=5,
    salt_buckets=4,
    bloom_shards=8,
    bloom_bits_per_shard=1 << 16,
    max_rounds=16,
)


def _tables_signature(out):
    frontier = sorted(
        map(tuple, out["frontier"].select(
            "canonical_url", "task_id", "depth", "status", "attempts",
            "round_added", "round_processed",
        ).collect())
    )
    seen = sorted(r["url"] for r in out["seen"].collect())
    docs = sorted(
        (r["canonical_url"], r["round"], str(r["spans"]))
        for r in out["documents"].collect()
    )
    return frontier, seen, docs


def test_resume_bit_identical(spark, web_fixture, tmp_path_factory):
    full_root = str(tmp_path_factory.mktemp("full"))
    part_root = str(tmp_path_factory.mktemp("part"))

    full_store = SnapshotStore(full_root, spark)
    full = run_crawl(
        spark, web_fixture["seed_jobs"], web_fixture["web_pages"],
        web_fixture["robots_src"], CFG, store=full_store,
    )
    n_rounds = full_store.current_round() + 1
    assert n_rounds >= 3

    # interrupted run: stop after round 1 by capping max_rounds
    cfg_cut = CrawlConfig(**{**CFG.__dict__, "max_rounds": 2})
    part_store = SnapshotStore(part_root, spark)
    run_crawl(
        spark, web_fixture["seed_jobs"], web_fixture["web_pages"],
        web_fixture["robots_src"], cfg_cut, store=part_store,
    )
    assert part_store.current_round() == 1

    # simulate a crash mid-round-2: half-written data, no commit record
    os.makedirs(os.path.join(part_root, "frontier", "r2"), exist_ok=True)
    with open(os.path.join(part_root, "frontier", "r2", "garbage.parquet"), "w") as f:
        f.write("partial write")
    torn = os.path.join(part_root, "round_state", "r2", "_tbl=frontier")
    os.makedirs(torn, exist_ok=True)
    with open(os.path.join(torn, "garbage.parquet"), "w") as f:
        f.write("partial write")

    resumed = run_crawl(
        spark, web_fixture["seed_jobs"], web_fixture["web_pages"],
        web_fixture["robots_src"], CFG, store=part_store, resume=True,
    )
    assert part_store.current_round() == full_store.current_round()
    assert _tables_signature(resumed) == _tables_signature(full)


def test_store_mode_matches_driver_mode(spark, web_fixture, tmp_path):
    """The store sink and the in-driver checkpoint sink run the same round
    loop: same final tables, same number of rounds (counted from the
    phase log: a round of final timeout retries emits no metric row)."""
    store = SnapshotStore(str(tmp_path), spark)

    def crawl(**kw):
        log = []
        cfg = CrawlConfig(**{**CFG.__dict__, "extra": {"phase_log": log}})
        out = run_crawl(spark, web_fixture["seed_jobs"], web_fixture["web_pages"],
                        web_fixture["robots_src"], cfg, **kw)
        return _tables_signature(out), len({r for r, _, _ in log})

    stored, n_stored = crawl(store=store)
    driven, n_driven = crawl()
    assert stored == driven
    assert n_stored == store.current_round() + 1 == n_driven


def test_resume_from_five_table_layout(spark, web_fixture, tmp_path):
    """A store committed in the earlier layout — five tables, each its own
    write, with seen and robots as full-state tables — still resumes: the
    new rounds' delta paths extend the last full seen and robots paths."""
    from pyspark.sql import functions as F

    args = (spark, web_fixture["seed_jobs"], web_fixture["web_pages"],
            web_fixture["robots_src"])
    cut = run_crawl(*args, CrawlConfig(**{**CFG.__dict__, "max_rounds": 2}))
    store = SnapshotStore(str(tmp_path), spark)
    for rnd in (0, 1):
        tables = {name: (cut[name].filter(F.col("round") == rnd), "append")
                  for name in ("documents", "metrics")}
        if rnd == 1:
            tables.update({name: (cut[name], "state")
                           for name in ("frontier", "seen", "robots")})
        store.commit_round(rnd, tables)

    resumed = run_crawl(*args, CFG, store=store, resume=True)
    assert _tables_signature(resumed) == _tables_signature(run_crawl(*args, CFG))
    seen_paths = store._commit_meta(store.current_round())["tables"]["seen"]["paths"]
    assert seen_paths[0] == os.path.join("seen", "r1") and len(seen_paths) > 1


def test_empty_tag_writes_no_path(spark, tmp_path):
    """A round-state tag with no rows writes no leaf directory and records
    no path: the table reads as its earlier rounds' rows, with the
    recorded schema and no job."""
    from pyspark.sql import functions as F

    store = SnapshotStore(str(tmp_path), spark)
    robots_schema = "host string, rules_txt string"
    seen_schema = "url_hash long, url string"
    kinds = {
        "seen": ("append", spark.createDataFrame([], seen_schema).schema),
        "robots": ("append", spark.createDataFrame([], robots_schema).schema),
        "metrics": ("append", spark.createDataFrame([], "n long").schema),
    }

    def union(seen_rows, robots_rows):
        seen = spark.createDataFrame(seen_rows, seen_schema)
        robots = spark.createDataFrame(robots_rows, robots_schema)
        return (seen.withColumn("_tbl", F.lit("seen")).unionByName(
            robots.withColumn("_tbl", F.lit("robots")), allowMissingColumns=True
        ), kinds)

    rules = [("a.test", "User-agent: *"), ("b.test", None)]
    store.commit_round(0, {}, union=union([(1, "http://a.test/")], rules))
    back = store.commit_round(1, {}, union=union([(2, "http://b.test/")], []))
    assert sorted(r["_tbl"] for r in back.collect()) == ["seen"]
    meta = store._commit_meta(1)["tables"]
    assert meta["robots"]["paths"] == store._commit_meta(0)["tables"]["robots"]["paths"]
    assert len(meta["seen"]["paths"]) == 2 and meta["metrics"]["paths"] == []

    sc = spark.sparkContext
    sc.setJobGroup("read-empty-tag", "snapshot read")
    try:
        robots = store.read("robots")
        never = store.read("metrics")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("read-empty-tag") == []
    assert robots.schema.simpleString() == "struct<host:string,rules_txt:string>"
    assert sorted(map(tuple, robots.collect())) == sorted(rules)
    assert never.schema.simpleString() == "struct<n:bigint>" and never.count() == 0
    assert sorted(r["url"] for r in store.read("seen").collect()) == [
        "http://a.test/", "http://b.test/",
    ]


def test_fresh_crawl_builds_no_bloom_shards_resume_does(
    spark, web_fixture, tmp_path, monkeypatch
):
    from distributed_web_crawling_and_indexing_system_gcp_spark.operators import (
        seen as seen_ops,
    )
    from distributed_web_crawling_and_indexing_system_gcp_spark.plans import (
        crawl as crawl_plan,
    )

    build, update = seen_ops.build_bloom_shards, crawl_plan._update_bloom
    builds, updates = [], []

    def no_build(*args, **kwargs):
        raise AssertionError("a fresh crawl's seen set is empty")

    def count_updates(*args, **kwargs):
        updates.append(args)
        return update(*args, **kwargs)

    monkeypatch.setattr(seen_ops, "build_bloom_shards", no_build)
    monkeypatch.setattr(crawl_plan, "_update_bloom", count_updates)
    args = (spark, web_fixture["seed_jobs"], web_fixture["web_pages"],
            web_fixture["robots_src"])
    one_round = CrawlConfig(**{**CFG.__dict__, "max_rounds": 1})
    run_crawl(*args, one_round)["frontier"].count()
    store = SnapshotStore(str(tmp_path), spark)
    run_crawl(*args, CrawlConfig(**{**CFG.__dict__, "max_rounds": 2}),
              store=store)
    assert store.current_round() == 1
    # the map is updated after round 0 of the 2-round crawl only: no
    # round probes it after the last possible one
    assert len(updates) == 1

    def spy_build(*a, **kw):
        builds.append(a)
        return build(*a, **kw)

    monkeypatch.setattr(seen_ops, "build_bloom_shards", spy_build)
    run_crawl(*args, CrawlConfig(**{**CFG.__dict__, "max_rounds": 3}),
              store=store, resume=True)
    assert store.current_round() == 2
    assert len(builds) == 1


def test_manifest_schema_skips_inference(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "new"), spark)
    df = spark.range(5).selectExpr("id", "CAST(id AS string) AS s")
    store.commit_round(0, {"t": (df, "state"), "a": (df, "append")})
    store.commit_round(1, {"a": (df, "append")})
    meta = store._commit_meta(1)["tables"]
    assert meta["t"]["schema"] == df.schema.jsonValue()
    assert meta["a"]["schema"] == df.schema.jsonValue()

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def read_jobs(group, table):
        sc.setJobGroup(group, "snapshot read")
        try:
            got = store.read(table)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return got, tracker.getJobIdsForGroup(group)

    got, jobs = read_jobs("read-with-schema", "a")
    assert jobs == []
    assert got.schema.simpleString() == df.schema.simpleString()
    assert got.count() == 10

    # a manifest written before schemas were recorded reads by inference,
    # which costs the footer job the recorded schema saves
    path = os.path.join(store.root, "_commits", "r1.json")
    with open(path) as f:
        old = json.load(f)
    for m in old["tables"].values():
        del m["schema"]
    with open(path, "w") as f:
        json.dump(old, f)
    got, jobs = read_jobs("read-by-inference", "a")
    assert len(jobs) >= 1
    assert got.schema.simpleString() == df.schema.simpleString()
    assert store.read("t").count() == 5

    # an append round with a different schema records none
    other = SnapshotStore(str(tmp_path / "mixed"), spark)
    other.commit_round(0, {"a": (df, "append")})
    other.commit_round(1, {"a": (df.selectExpr("id"), "append")})
    assert other._commit_meta(1)["tables"]["a"]["schema"] is None


def test_commit_atomicity(spark, tmp_path):
    store = SnapshotStore(str(tmp_path), spark)
    df = spark.range(5).selectExpr("id", "id * 2 AS v")
    store.commit_round(0, {"t": (df, "state")})
    assert store.current_round() == 0
    assert store.read("t").count() == 5

    # append-table lineage across rounds
    store.commit_round(1, {"a": (df, "append")})
    store.commit_round(2, {"a": (df, "append")})
    assert store.read("a").count() == 10
    assert store.read("a", round_no=1).count() == 5
    # state table carried forward untouched
    assert store.read("t").count() == 5


def test_time_travel_rollback(spark, tmp_path):
    store = SnapshotStore(str(tmp_path), spark)
    for k in range(3):
        df = spark.range(k + 1).selectExpr("id")
        store.commit_round(k, {"s": (df, "state")})
    assert store.read("s", round_no=0).count() == 1
    assert store.read("s", round_no=2).count() == 3
    # _CURRENT survives torn tmp files
    cur = os.path.join(str(tmp_path), "_CURRENT")
    with open(cur) as f:
        assert json.load(f)["round"] == 2
