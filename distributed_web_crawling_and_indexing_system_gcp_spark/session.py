"""SparkSession factory tuned for the crawl workload.

Local-mode defaults mirror what we would set on a real multi-executor
cluster: AQE on (runtime re-plan + skew-join splitting), explicit shuffle
partitions sized to the parallelism, Arrow enabled for every pandas UDF
stage, and a broadcast threshold large enough that per-host dimension
tables (robots rules, host budgets) always broadcast instead of shuffling.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession
from pyspark.sql.udf import UserDefinedFunction


def _scratch_dir() -> str:
    """Shuffle/checkpoint scratch.  tmpfs is RAM — only use it when /dev/shm
    actually has headroom (≥16 GiB free), otherwise DISK_ONLY checkpoints and
    shuffle spill land in memory and ENOSPC/OOM under load.  A real cluster
    would point this at local SSDs."""
    d = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if d:
        return d
    shm = "/dev/shm/spark-local"
    try:
        st = os.statvfs("/dev/shm")
        if st.f_bavail * st.f_frsize >= 16 << 30:
            os.makedirs(shm, exist_ok=True)
            return shm
    except OSError:
        pass
    return "/tmp"


def _driver_mem_default() -> str:
    """Half of host RAM, clamped to [4g, 24g] — the crawl's DISK_ONLY round
    history lives off-heap, so the driver heap only needs shuffle/broadcast
    bookkeeping plus the collected per-round aggregates."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_gb = int(line.split()[1]) / (1 << 20)
                    return f"{max(4, min(24, int(total_gb // 2)))}g"
    except OSError:
        pass
    return "8g"


def _drop_cached_java_udfs() -> None:
    """A module-level UDF builds its Java UDF on first use and keeps it,
    and that object holds the SparkContext's Python accumulator.  After
    ``spark.stop()`` and a new session in the same process, every Python
    task would send its accumulator update to the old context's closed
    server, and the scheduler logs one "Failed to update accumulator"
    stack trace per task.  So every session this factory returns starts
    with no Java UDF cached in any of this package's modules."""
    pkg = __name__.rsplit(".", 1)[0]
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == pkg or name.startswith(pkg + ".")):
            continue
        for obj in list(vars(mod).values()):
            udf = getattr(obj, "_unwrapped", None)
            if isinstance(udf, UserDefinedFunction):
                udf._judf_placeholder = None


def build_session(
    app_name: str = "pyspark-frontier",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        if cpus:
            shuffle_partitions = int(cpus)
        elif master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = int(master[6:-1])
        else:
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size is tuned for WIDE STRING rows: crawl pages are
        # ~20 KB of html each, so 10k-record batches would be ~200 MB of
        # Arrow buffer per in-flight batch per worker — allocation churn
        # on both sides of the socket that inflates task time as core
        # count grows.  1024 records ≈ 20 MB keeps transfer pipelined.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _driver_mem_default()),
        )
        # shuffle/checkpoint scratch on tmpfs: this sandbox VM's ext4 root
        # has pathologically slow small-file metadata ops (measured 1.7×
        # end-to-end), and a real cluster would put spark.local.dir on
        # fast local SSDs anyway.  Override with SPARK_GRAFT_LOCAL_DIR.
        .config("spark.local.dir", _scratch_dir())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    _drop_cached_java_udfs()
    return builder.getOrCreate()
