"""HTML → interleaved span parsing (P8/J1): structure, ordering, and the
flattened-text invariant (text view == reference's joined
stripped_strings, crawler_node.py:307)."""

from __future__ import annotations

from pyspark.sql import functions as F

from distributed_web_crawling_and_indexing_system_gcp_spark.functions.html import (
    links_view,
    page_pass_udf,
    parse_html_one,
    parse_html_udf,
    text_view,
)
from distributed_web_crawling_and_indexing_system_gcp_spark.functions.urls import (
    resolve_and_parse_udf,
)

HTML = """<html><head><title>T1</title></head><body>
<h1>Header &amp; more</h1>
<p>para one</p>
<a href="/x">anchor text</a>
<img src="/i.png">
<p>para <b>two</b> tail</p>
<a href="http://h.test/y#f">second</a>
</body></html>"""


def test_span_interleave_order():
    spans = parse_html_one(HTML)
    kinds = [(s["kind"], s["text"], s["media_ref"]) for s in spans]
    assert kinds == [
        ("text", "T1", None),
        ("text", "Header & more", None),  # entity decoded
        ("text", "para one", None),
        ("link", None, "/x"),
        ("text", "anchor text", None),
        ("image", None, "/i.png"),
        ("text", "para", None),
        ("text", "two", None),
        ("text", "tail", None),
        ("link", None, "http://h.test/y#f"),
        ("text", "second", None),
    ]
    assert [s["offset"] for s in spans] == list(range(len(spans)))


def test_text_equals_joined_stripped_strings():
    spans = parse_html_one(HTML)
    text = " ".join(s["text"] for s in spans if s["kind"] == "text")
    assert text == "T1 Header & more para one anchor text para two tail second"


def test_udf_text_and_links_views(spark):
    df = spark.createDataFrame([("d1", HTML)], "doc_id string, html string")
    parsed = df.withColumn("spans", parse_html_udf("html"))
    row = parsed.select(
        text_view(F.col("spans")).alias("tv"),
        links_view(F.col("spans")).alias("lv"),
        F.size("spans").alias("n"),
    ).collect()[0]
    assert row["tv"] == "T1 Header & more para one anchor text para two tail second"
    assert row["lv"] == ["/x", "http://h.test/y#f"]
    assert row["n"] == 11


def test_empty_and_null(spark):
    df = spark.createDataFrame(
        [("a", "<html></html>"), ("b", None)], "doc_id string, html string"
    )
    rows = df.withColumn("spans", parse_html_udf("html")).select(
        "doc_id", "spans", text_view(F.col("spans")).alias("text")
    ).collect()
    by_id = {r["doc_id"]: r for r in rows}
    assert by_id["a"]["spans"] == []
    assert by_id["a"]["text"] == ""
    assert by_id["b"]["spans"] is None


def _slow_parse(html: str):
    """Reference semantics: the exact HTMLParser path, bypassing the fast
    tokenizer."""
    from distributed_web_crawling_and_indexing_system_gcp_spark.functions.html import (
        _SpanParser,
    )

    p = _SpanParser()
    p.feed(html)
    p.close()
    return [
        {"kind": k, "text": t, "media_ref": m, "offset": i}
        for i, (k, t, m) in enumerate(p.spans)
    ]


def test_fast_parse_matches_htmlparser():
    """The regex fast path must be span-for-span identical to HTMLParser on
    everything it accepts, and must decline (fall back) on constructs it
    cannot model — either way parse_html_one == the HTMLParser stream."""
    from distributed_web_crawling_and_indexing_system_gcp_spark.functions.html import (
        _parse_fast,
    )
    from distributed_web_crawling_and_indexing_system_gcp_spark.sources import webgen

    cases = [
        HTML,
        # fixture pages, incl. polluted hrefs / trailing-slash / fragments
        *[webgen._html_for(i, 50, 8, richness=2) for i in range(50)],
        # entity soup in text and attributes
        '<p>AT&amp;T &lt;3 &#65;</p><a href="/x?a=1&amp;b=2">e</a>',
        # uppercase tags and attr names, self-closing img
        '<A HREF="/up">U</A><IMG SRC="/i.png"/>',
        # img without src / a without href
        "<a>plain</a><img alt='x'><p>tail</p>",
        # whitespace-only runs
        "<p>  </p>\n\n<p>x</p>",
        # bare markup-ish text → fallback territory
        "<p>a < b</p>",
        "tail text with <p>inner</p> trailing <",
        "<!-- comment --><a href='/q'>q</a>",
        "<script>var x = '<a href=\"/no\">';</script><p>after</p>",
        "<a href='/single'>single-quoted</a>",
        "<a href=/unquoted>unquoted</a>",
        '<a href="/one" href="/two">dup</a>',
        "",
    ]
    declined = 0
    for html in cases:
        want = _slow_parse(html)
        got = parse_html_one(html)
        assert got == want, html[:120]
        if _parse_fast(html) is None:
            declined += 1
    assert declined >= 6  # the guard really routes tricky docs to HTMLParser

    # and the fixture pages all take the fast path (that's the point)
    for i in range(20):
        assert _parse_fast(webgen._html_for(i, 50, 8)) is not None


def test_page_pass_matches_parse_and_resolve_udfs(spark):
    """The crawl's page pass returns what the stand-alone UDFs return:
    parse_html_udf's spans, and for a non-null base, resolve_and_parse_udf
    of each link span in link order; a null base parses only."""
    from distributed_web_crawling_and_indexing_system_gcp_spark.sources import webgen

    pages = [HTML, "", '<a href=" //Other.test/P/ ">o</a><a href="#f">f</a>'] + [
        webgen._html_for(i, 50, 8, richness=2) for i in range(12)
    ]
    rows = [(i, h, None if i % 4 == 3 else f"http://h{i}.test/p/{i}")
            for i, h in enumerate(pages)] + [(len(pages), None, "http://h.test/")]
    df = spark.createDataFrame(rows, "i int, html string, base string")
    got = {
        r["i"]: r
        for r in df.select("i", page_pass_udf("html", "base").alias("p"))
        .select("i", "p.spans", "p.links").collect()
    }
    spans = {r["i"]: r["s"] for r in df.select("i", parse_html_udf("html").alias("s")).collect()}
    resolved = {}
    for r in (
        df.filter("base is not null")
        .select("i", "base", F.posexplode(links_view(parse_html_udf("html"))).alias("pos", "href"))
        .select("i", "pos", resolve_and_parse_udf("base", "href").alias("r"))
        .collect()
    ):
        resolved.setdefault(r["i"], {})[r["pos"]] = (
            r["r"]["scheme"], r["r"]["netloc"], r["r"]["canonical"]
        )
    for i, _, base in rows:
        assert got[i]["spans"] == spans[i], i
        if base is None or spans[i] is None:
            assert got[i]["links"] is None, i
        else:
            want = [resolved.get(i, {})[p] for p in range(len(resolved.get(i, {})))]
            assert [tuple(link) for link in got[i]["links"]] == want, i
