"""Bloom-shard seen-set operator: no false negatives, FPs killed by the
exact anti-join, shard OR-union correctness."""

from __future__ import annotations

import sys
from collections import Counter
from pathlib import Path

from pyspark.sql import functions as F

from distributed_web_crawling_and_indexing_system_gcp_spark.operators import seen as S

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tools.plan_audit import python_udf_counts, sql_plans

SHARDS, BITS = 8, 1 << 14


def _seen_df(spark, n=500):
    return spark.range(n).select(
        F.xxhash64(F.concat(F.lit("u"), F.col("id"))).alias("url_hash"),
        F.concat(F.lit("http://h.test/"), F.col("id")).alias("url"),
    )


def test_bloom_no_false_negatives(spark):
    seen = _seen_df(spark)
    shards = S.shards_to_dict(S.build_bloom_shards(seen, SHARDS, BITS))
    flagged = S.bloom_maybe_seen(spark, seen, shards, SHARDS, BITS)
    # every truly-seen key must be maybe_seen
    assert flagged.filter(~F.col("maybe_seen")).count() == 0


def test_filter_new_equals_exact_antijoin(spark):
    seen = _seen_df(spark, 400)
    shards = S.shards_to_dict(S.build_bloom_shards(seen, SHARDS, BITS))
    # candidates: half seen, half new
    cands = spark.range(200, 600).select(
        F.xxhash64(F.concat(F.lit("u"), F.col("id"))).alias("url_hash"),
        F.concat(F.lit("http://h.test/"), F.col("id")).alias("url"),
    )
    with_bloom = sorted(
        r["url"] for r in S.filter_new(cands, seen, shards, SHARDS, BITS).collect()
    )
    exact = sorted(r["url"] for r in S.filter_new(cands, seen).collect())
    assert with_bloom == exact
    assert len(exact) == 200  # ids 400..599


def test_filter_new_probes_each_candidate_once(spark):
    # a non-empty map: one probe node over the candidates, none per half
    # of the split and none over `seen`, across every execution it takes
    seen = _seen_df(spark, 1000)
    shards = S.shards_to_dict(S.build_bloom_shards(seen, SHARDS, BITS))
    cands = spark.range(500, 1500).select(
        F.xxhash64(F.concat(F.lit("u"), F.col("id"))).alias("url_hash"),
        F.concat(F.lit("http://h.test/"), F.col("id")).alias("url"),
    )
    start = sql_plans(spark)[-1][0]
    assert S.filter_new(cands, seen, shards, SHARDS, BITS).count() == 500
    plans = [p for _, p in sql_plans(spark, start)]
    assert python_udf_counts(*plans) == Counter(contains=1)


def test_or_shards_union(spark):
    a = S.shards_to_dict(S.build_bloom_shards(_seen_df(spark, 100), SHARDS, BITS))
    b_df = spark.range(100, 200).select(
        F.xxhash64(F.concat(F.lit("u"), F.col("id"))).alias("url_hash")
    )
    b = S.shards_to_dict(S.build_bloom_shards(b_df, SHARDS, BITS))
    merged = S.or_shards(a, b)
    all_df = _seen_df(spark, 200)
    flagged = S.bloom_maybe_seen(spark, all_df, merged, SHARDS, BITS)
    assert flagged.filter(~F.col("maybe_seen")).count() == 0


def test_empty_seen_all_new(spark):
    seen = _seen_df(spark, 0)
    shards = S.shards_to_dict(S.build_bloom_shards(seen, SHARDS, BITS))
    cands = _seen_df(spark, 50)
    assert S.filter_new(cands, seen, shards, SHARDS, BITS).count() == 50


def test_empty_shard_map_returns_candidates_unchanged(spark):
    # an empty map means no key was ever inserted: no probe, no join —
    # the very same DataFrame comes back, whatever `seen` holds
    cands = _seen_df(spark, 50)
    assert S.filter_new(cands, _seen_df(spark, 10), {}, SHARDS, BITS) is cands


def test_bloom_delta_paths_identical(spark):
    # driver numpy insert vs distributed build+or over the same delta must
    # produce bit-identical shard maps (run_crawl switches between them on
    # cfg.bloom_delta_collect_max — i.e. with the threshold forced to 0
    # every round takes the distributed path and nothing may change)
    base = _seen_df(spark, 300)
    delta = spark.range(300, 450).select(
        F.xxhash64(F.concat(F.lit("u"), F.col("id"))).alias("url_hash"),
        F.concat(F.lit("http://h.test/"), F.col("id")).alias("url"),
    )
    shards0 = S.shards_to_dict(S.build_bloom_shards(base, SHARDS, BITS))

    import numpy as np

    keys = np.array([r[0] for r in delta.select("url_hash").collect()],
                    dtype=np.int64)
    via_driver = S.bloom_insert_driver(shards0, keys, SHARDS, BITS)
    via_dist = S.or_shards(
        shards0, S.shards_to_dict(S.build_bloom_shards(delta, SHARDS, BITS))
    )
    assert set(via_driver) == set(via_dist)
    for sid in via_driver:
        a, b = via_driver[sid], via_dist[sid]
        # blobs may differ by trailing zero padding only
        n = max(len(a), len(b))
        assert a.ljust(n, b"\0") == b.ljust(n, b"\0"), f"shard {sid} differs"
