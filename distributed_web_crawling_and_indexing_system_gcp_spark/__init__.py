"""PySpark-native URL-frontier + fetch-scheduler engine.

A from-scratch re-expression of the capabilities of the reference system
``mohamedmostafam0/Distributed-Web-Crawling-and-Indexing-System-GCP`` as
pure DataFrame + vectorized Arrow/pandas-UDF stages:

- ``functions``  — scalar/vectorized column functions (URL canonicalization,
  HTML → interleaved span parsing, text analysis, cross-engine hashing)
- ``operators``  — relational operators (seen-set dedup incl. Bloom shards,
  per-host politeness windows, robots gating, near-dup families, similarity
  search, inverted-index search)
- ``sources``    — fetch stage (synthetic closed-world fetcher for tests;
  network fetcher stubbed) and the snapshot store (atomic parquet
  snapshots with manifest commits — Iceberg-style semantics; the Iceberg
  runtime jar is not available in this sandbox, the store keeps the same
  commit/rollback/time-travel contract)
- ``plans``      — the crawl-round logical plan and the driver round loop
- ``streaming``  — Structured-Streaming view over the metrics table

Everything is DataFrame-first: no RDDs, no per-row Python UDFs; Python
logic runs only inside Arrow-batched pandas UDFs / applyInPandas.
"""

import sys as _sys

__version__ = "0.1.0"

# Inside a PySpark worker (imported there to run one of this package's
# UDFs), stop every later task of the reused worker from re-reading the
# unchanged pyspark.zip directory; see _zip_cache.  The driver is left as is.
if "pyspark.worker" in _sys.modules:
    from ._zip_cache import install as _install_zip_cache

    _install_zip_cache()
