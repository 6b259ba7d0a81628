"""A package UDF stays usable across ``spark.stop()`` and a new session
in the same process, without accumulator errors in the log."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

ROOT = str(Path(__file__).resolve().parents[1])

TWO_SESSIONS = """
from distributed_web_crawling_and_indexing_system_gcp_spark.functions.urls import canonicalize_udf
from distributed_web_crawling_and_indexing_system_gcp_spark.session import build_session

for _ in range(2):
    spark = build_session(app_name="two-sessions", master="local[2]", shuffle_partitions=2)
    df = spark.createDataFrame([("http://A.test/x/",), ("http://b.test/y",)], "u string")
    got = sorted(r[0] for r in df.select(canonicalize_udf("u")).collect())
    assert got == ["http://a.test/x", "http://b.test/y"], got
    spark.stop()
"""


def test_udf_across_session_restart_logs_no_accumulator_error():
    env = {**os.environ,
           "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)}
    r = subprocess.run([sys.executable, "-c", TWO_SESSIONS], cwd=ROOT, env=env,
                       capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-3000:]
    assert "Failed to update accumulator" not in r.stderr
