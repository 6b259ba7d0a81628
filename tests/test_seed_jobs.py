"""The UI's duplicate-job collapse (UI/main.py:185-199, J5): jobs whose
seed-URL sets are equal as sets reuse the earliest task."""

from __future__ import annotations

from distributed_web_crawling_and_indexing_system_gcp_spark.plans.crawl import (
    dedupe_seed_jobs,
)

SCHEMA = "task_id string, seed_urls array<string>, depth int, domain_restriction string"


def test_same_seed_set_keeps_smallest_task_id(spark):
    jobs = spark.createDataFrame(
        [
            ("t2", ["http://b.test/", "http://a.test/"], 1, None),
            ("t1", ["http://a.test/", "http://b.test/"], 2, None),  # same set
            ("t3", ["http://a.test/"], 1, None),                    # other set
            ("t0", ["http://c.test/"], 3, "c.test"),                # other set
        ],
        SCHEMA,
    )
    kept = {r["task_id"]: r.asDict() for r in dedupe_seed_jobs(jobs).collect()}
    assert sorted(kept) == ["t0", "t1", "t3"]
    # the kept job is returned whole, with its own columns
    assert kept["t1"]["depth"] == 2
    assert kept["t0"]["domain_restriction"] == "c.test"
    assert set(dedupe_seed_jobs(jobs).columns) == set(jobs.columns)
