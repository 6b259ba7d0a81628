"""Python passes of a crawl round, pinned on the executed plans.

A round evaluates the robots verdict once per batch row and the page pass
(parse + link resolution, functions/html.py) once per fetched page, both
inside the fetch write.  After the fetch write, the round state, its
slices and ``documents`` add no Python node; the one exception is the
Bloom probe of a round that starts from a non-empty shard map, which runs
once per link candidate.  Counting evaluation nodes by output attribute
also catches a UDF the optimizer copies into a second operator."""

from __future__ import annotations

import re
import sys
from collections import Counter
from pathlib import Path

import pytest

from distributed_web_crawling_and_indexing_system_gcp_spark.plans.crawl import (
    CrawlConfig,
    run_crawl,
)
from distributed_web_crawling_and_indexing_system_gcp_spark.sources.snapshots import (
    SnapshotStore,
)
from tests.test_resume import CFG

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tools.plan_audit import python_udf_counts, sql_plans

FETCH_PASSES = Counter(robots_allowed_udf=1, page_pass=1)


def _last_id(spark) -> int:
    plans = sql_plans(spark)
    return plans[-1][0] if plans else -1


@pytest.mark.parametrize("with_store", [False, True], ids=["driver", "store"])
def test_round_python_passes(spark, web_fixture, tmp_path, with_store):
    cfg = CrawlConfig(**{**CFG.__dict__, "max_rounds": 2})
    store = SnapshotStore(str(tmp_path), spark) if with_store else None
    start = _last_id(spark)
    out = run_crawl(spark, web_fixture["seed_jobs"], web_fixture["web_pages"],
                    web_fixture["robots_src"], cfg, store=store)
    for name in ("frontier", "seen", "documents", "metrics", "robots"):
        out[name].collect()
    # the fixture web is generated by a UDF and cached: its node shows in
    # every plan that reads it, and is not the crawl's
    fixture = python_udf_counts(*(
        web_fixture[t]._jdf.queryExecution().executedPlan().toString()
        for t in ("web_pages", "robots_src")
    ))
    plans = [p for _, p in sql_plans(spark, start)]
    # the fetch write: the one write whose output path is fetched_r<k>
    writes = [i for i, p in enumerate(plans)
              if re.search(r"Arguments: \S*/fetched_r\d{5}, ", p)]
    assert len(writes) == 2  # one fetch write per round
    for round_no, (w, end) in enumerate(zip(writes, writes[1:] + [len(plans)])):
        assert python_udf_counts(plans[w]) - fixture == FETCH_PASSES, round_no
        # round 0 starts from the empty shard map: no probe
        probe = Counter(contains=1) if round_no else Counter()
        assert python_udf_counts(*plans[w:end]) - fixture == FETCH_PASSES + probe, round_no
