"""Fetch stage: synthetic closed-world fetcher (tests/bench) + the real
network fetcher's shape (stubbed — no network in this sandbox).

Reference fetch (/root/reference/src/crawler/crawler_node.py:270-285):
``requests.get(url, timeout=10, headers={'User-Agent': UA},
allow_redirects=True)`` + ``raise_for_status``; outcomes:
- HTML 2xx            → process
- non-HTML 2xx        → skip (ack)                       (crawler_node.py:378-381)
- timeout             → nack = redeliver                 (crawler_node.py:278-281)
- other request error → ack = drop                       (crawler_node.py:282-285)

Synthetic form: the web is a ``web_pages(url, final_url, status,
content_type, html, fetch_ms)`` fixture table; "fetching" a batch is a
LEFT JOIN on the exact request URL — fully deterministic, no Python in
the path.  Unknown URL ⇒ connection error (status -2).  Status codes:
-1 = timeout, -2 = unreachable, ≥400 = HTTP error (raise_for_status),
else OK.

The production fetcher (`fetch_over_network`) is the real stage —
grouped ``applyInPandas`` per (host, salt) partition so one host's
requests serialize within a task (true per-host politeness) while hosts
parallelize across tasks, with per-request pacing.  The request function
is INJECTED (``fetcher=``): deployment passes a ``requests.Session``
wrapper; tests pass ``fixture_fetcher`` over the closed-world table and
exercise the identical grouped stage.  Without an injected fetcher the
stage raises ``NotImplementedError`` (no outbound network here).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FETCH_RESULT_COLS = ("final_url", "http_status", "content_type", "html", "fetch_ms")


def fetch_synthetic(batch: DataFrame, web_pages: DataFrame, url_col: str = "url") -> DataFrame:
    """Resolve a fetch batch against the closed-world fixture.

    Adds ``final_url, http_status, content_type, html, fetch_ms``.
    URL not in the fixture ⇒ http_status = -2 (unreachable).

    Join shape matters: a naive ``batch LEFT JOIN web`` can only build the
    web side (Spark cannot broadcast the preserved side of an outer
    join), so Catalyst sort-merge-joins it — sorting/exchanging the
    ~20 KB-html web rows EVERY round, which at bench scale was the
    dominant memory-pressure source.  Decomposed instead into
    (web ⋈ broadcast(batch)) ∪ (batch ⋉̸ broadcast(web.urls)):
    the heavy web relation is only ever STREAMED against small broadcast
    hash tables — no sort, no exchange of page bodies.  (The real
    network fetcher replaces this operator entirely; this is the fixture
    path used by tests/bench.)

    Closed-world precondition: ``web_pages.url`` is unique.  A URL listed
    twice would fetch as two rows, and so would the crawl's re-attach of
    ``html`` to the documents sink (``plans/crawl.py``), which joins the
    same fixture by the same key.  ``webgen`` fixtures hold each URL once.
    """
    pages = web_pages.select(
        F.col("url").alias(url_col),
        F.col("final_url").alias("final_url"),
        F.col("status").alias("http_status"),
        "content_type",
        "html",
        "fetch_ms",
    )
    hit = pages.join(F.broadcast(batch), url_col, "inner").select(
        *batch.columns, *[c for c in pages.columns if c != url_col]
    )
    # miss detection joins against the column-pruned URL set only — no
    # forced broadcast hint: AQE broadcasts it while it fits under
    # autoBroadcastJoinThreshold and falls back to a shuffle anti-join
    # when the fixture's URL universe outgrows executor memory
    missed = batch.join(
        pages.select(url_col), url_col, "left_anti"
    ).select(
        "*",
        F.lit(None).cast("string").alias("final_url"),
        F.lit(-2).alias("http_status"),
        F.lit(None).cast("string").alias("content_type"),
        F.lit(None).cast("string").alias("html"),
        F.lit(None).cast("int").alias("fetch_ms"),
    )
    return hit.unionByName(missed)


def classify_fetch(df: DataFrame) -> DataFrame:
    """Adds ``fetch_outcome``: ok_html | ok_other | timeout | error.

    Mirrors the reference's routing: timeout ⇒ retryable; HTTP/connection
    error ⇒ dropped; 2xx non-HTML ⇒ acknowledged but not processed.
    """
    s = F.col("http_status")
    ct = F.lower(F.coalesce(F.col("content_type"), F.lit("")))
    return df.withColumn(
        "fetch_outcome",
        F.when(s == -1, F.lit("timeout"))
        .when((s < 0) | (s >= 400), F.lit("error"))
        .when(ct.contains("html"), F.lit("ok_html"))
        .otherwise(F.lit("ok_other")),
    )


def fetch_over_network(
    batch: DataFrame,
    timeout_s: int = 10,
    host_col: str = "host",
    salt_col: str = "host_salt",
    url_col: str = "url",
    min_interval_s: float = 1.0,
    fetcher=None,
    pacer=None,
) -> DataFrame:
    """Production fetch stage: grouped applyInPandas per (host, salt) so
    requests to one host serialize inside a task.

    ``min_interval_s`` is the within-task pacing budget: requests inside
    one (host, salt) group are spaced ≥ this interval — the reference's
    hard-coded 1 req/s sleep (crawler_node.py:35,261) made per-host and
    enforced where the requests actually execute.  (The crawl plan's
    per-round budget bounds volume; this bounds instantaneous rate.)
    With ``salt_buckets`` salt partitions per host, set
    ``min_interval_s = salt_buckets / target_host_rps``.

    ``fetcher`` is the injected request function: ``fetcher(url) -> dict``
    with keys ``final_url, http_status, content_type, html, fetch_ms``
    (serialized to executors with the UDF closure).  On deploy this is one
    lambda over a ``requests.Session``:

        def fetcher(url):
            r = session.get(url, timeout=timeout_s, headers={...},
                            allow_redirects=True)
            return {"final_url": r.url, "http_status": r.status_code, ...}

    With the default ``fetcher=None`` the stage raises NotImplementedError
    executor-side — no outbound network exists in this sandbox; tests
    drive the REAL grouped stage with a fake fetcher backed by the web
    fixture (tests/test_crawl_parity.py) and bench uses the join-based
    ``fetch_synthetic``.  ``pacer`` optionally supplies per-group
    ``(sleep, clock)`` for deterministic pacing tests.
    """
    out_schema = (
        batch.schema.simpleString()[7:-1]
        + ", final_url string, http_status int, content_type string, "
        + "html string, fetch_ms int"
    )
    in_cols = list(batch.columns)

    def fetch_group(pdf: pd.DataFrame) -> pd.DataFrame:
        sleep, clock = pacer() if pacer is not None else (None, None)
        out_rows = []
        # pacing wraps the REQUEST call itself (each row is yielded ≥
        # min_interval_s after the previous row's release) — pacing batch
        # assembly and then firing requests back-to-back would defeat the
        # per-host budget
        for row in iter_paced_rows(pdf, min_interval_s, sleep=sleep,
                                   clock=clock):
            if fetcher is None:
                raise NotImplementedError(
                    "network fetch is not available in this sandbox; "
                    "inject fetcher= (a requests.Session wrapper) or "
                    "use fetch_synthetic(batch, web_pages)"
                )
            res = fetcher(row[url_col])
            rec = {c: row[c] for c in in_cols}
            for c in FETCH_RESULT_COLS:
                rec[c] = res.get(c)
            out_rows.append(rec)
        return pd.DataFrame(
            out_rows, columns=in_cols + list(FETCH_RESULT_COLS)
        )

    return batch.groupBy(host_col, salt_col).applyInPandas(fetch_group, out_schema)


def requests_fetcher(
    timeout_s: float = 10.0,
    user_agent: str | None = None,
    url_rewrite=None,
    url_restore=None,
):
    """Build the PRODUCTION ``fetcher`` over a real ``requests.Session`` —
    the reference crawler's request verbatim (crawler_node.py:270-285):
    ``session.get(url, timeout=..., headers={'User-Agent': UA},
    allow_redirects=True)``; outcomes map to the engine's status codes:
    timeout → -1 (retryable), connection error → -2, HTTP status otherwise
    (``classify_fetch`` routes ≥400 to error exactly like
    ``raise_for_status``).  ``html`` is only captured for 2xx HTML
    responses — the reference never reads non-HTML bodies
    (crawler_node.py:378-381).

    ``url_rewrite``/``url_restore`` are optional proxy-style hooks mapping
    the crawl-space URL to a transport URL and the transport final URL
    back (used by the loopback-server tests, where ``hN.test`` hosts ride
    a ``127.0.0.1`` socket path prefix); production passes neither.

    The returned closure pickles to executors; the Session is created
    lazily per worker process (sockets cannot cross the pickle boundary).
    """
    import time as _time

    ua = user_agent or _default_ua()
    state: dict = {}

    def fetch(url: str) -> dict:
        import requests

        session = state.get("s")
        if session is None:
            session = state["s"] = requests.Session()
        target = url_rewrite(url) if url_rewrite is not None else url
        t0 = _time.monotonic()
        try:
            r = session.get(
                target,
                timeout=timeout_s,
                headers={"User-Agent": ua},
                allow_redirects=True,
            )
        except requests.Timeout:
            return {"final_url": None, "http_status": -1, "content_type": None,
                    "html": None, "fetch_ms": None}
        except requests.RequestException:
            return {"final_url": None, "http_status": -2, "content_type": None,
                    "html": None, "fetch_ms": None}
        ms = int((_time.monotonic() - t0) * 1000)
        final = url_restore(r.url) if url_restore is not None else r.url
        ctype = r.headers.get("Content-Type")
        ok_html = 200 <= r.status_code < 300 and "html" in (ctype or "").lower()
        return {
            "final_url": final,
            "http_status": r.status_code,
            "content_type": ctype,
            "html": r.text if ok_html else None,
            "fetch_ms": ms,
        }

    return fetch


def _default_ua() -> str:
    from ..operators.robots import USER_AGENT

    return USER_AGENT


def fixture_fetcher(web_rows: dict[str, dict]):
    """A ``fetcher`` backed by a collected web-fixture dict — semantically
    identical to ``fetch_synthetic`` (unknown URL ⇒ unreachable, -2), used
    to exercise the REAL grouped fetch stage without network."""

    def fetch(url: str) -> dict:
        row = web_rows.get(url)
        if row is None:
            return {
                "final_url": None, "http_status": -2, "content_type": None,
                "html": None, "fetch_ms": None,
            }
        return {
            "final_url": row["final_url"], "http_status": row["status"],
            "content_type": row["content_type"], "html": row["html"],
            "fetch_ms": row["fetch_ms"],
        }

    return fetch


def iter_paced_rows(
    pdf: pd.DataFrame,
    min_interval_s: float,
    sleep=None,
    clock=None,
):
    """Yield rows with ≥ ``min_interval_s`` between releases — the unit of
    pacing the production fetcher wraps around each request.  Injected
    ``sleep``/``clock`` make it unit-testable without wall-clock waits."""
    import time as _time

    sleep = sleep or _time.sleep
    clock = clock or _time.monotonic
    last: float | None = None
    for _, row in pdf.iterrows():
        now = clock()
        if last is not None and min_interval_s > 0:
            wait = last + min_interval_s - now
            if wait > 0:
                sleep(wait)
                now = last + min_interval_s
        last = now
        yield row


def iter_fetch_batches(pdf: pd.DataFrame, max_batch: int) -> Iterator[pd.DataFrame]:
    """Helper the production fetcher would use to bound in-flight rows."""
    for start in range(0, len(pdf), max_batch):
        yield pdf.iloc[start : start + max_batch]


def iter_paced_batches(
    pdf: pd.DataFrame,
    max_batch: int,
    min_interval_s: float,
    sleep=None,
    clock=None,
) -> Iterator[pd.DataFrame]:
    """Batching iterator with a per-row pacing budget: consecutive rows are
    released ≥ ``min_interval_s`` apart (row release time, not batch).

    Injected ``sleep``/``clock`` make the pacing unit-testable without
    wall-clock waits (tests/test_crawl_parity.py::test_paced_batches).
    """
    import time as _time

    sleep = sleep or _time.sleep
    clock = clock or _time.monotonic
    last: float | None = None
    for batch in iter_fetch_batches(pdf, max_batch):
        rows = []
        for _, row in batch.iterrows():
            now = clock()
            if last is not None and min_interval_s > 0:
                wait = last + min_interval_s - now
                if wait > 0:
                    sleep(wait)
                    now = last + min_interval_s
            last = now
            rows.append(row)
        yield pd.DataFrame(rows, columns=batch.columns)


__all__ = [
    "FETCH_RESULT_COLS",
    "fetch_synthetic",
    "classify_fetch",
    "fetch_over_network",
    "requests_fetcher",
    "fixture_fetcher",
    "iter_fetch_batches",
    "iter_paced_rows",
    "iter_paced_batches",
]
