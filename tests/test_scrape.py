"""Unit + Spark-stage tests for the scrape layer and the synthetic
pages corpus."""

from __future__ import annotations

import pytest

from crawl4ai_spark.functions.scrape import scrape_one, scrape_stage
from crawl4ai_spark.synth import (
    external_url,
    generate_pages,
    outlink_targets,
    page_url,
)

HTML = """
<html><head><title> My Title </title>
<meta name="description" content="desc here">
<meta property="og:title" content="OG Title">
<script>var x = 1;</script>
</head><body>
<nav><a href="/nav1">Nav One</a></nav>
<h1>Heading</h1>
<p>Body text with <a href="https://other.net/x" title="Ext">external</a>
and <a href="/rel/page.html">relative</a> and <a href="/rel/page.html">dup</a>.</p>
<img src="/i/a.png" alt="A"><img src="data:image/png;base64,xx" alt="skip">
<a href="javascript:void(0)">js</a><a href="#frag">frag</a>
<style>.x{}</style>
</body></html>
"""


def test_scrape_metadata():
    r = scrape_one(HTML, "https://sub.site.com/dir/p.html")
    assert r["title"] == "My Title"
    assert r["meta"]["description"] == "desc here"
    assert r["meta"]["og:title"] == "OG Title"


def test_scrape_links_dedup_and_split():
    r = scrape_one(HTML, "https://sub.site.com/dir/p.html")
    hrefs = [l["href"] for l in r["links"]]
    # dedup: /rel/page.html appears once; javascript:/#frag skipped
    assert hrefs == [
        "https://sub.site.com/nav1",
        "https://other.net/x",
        "https://sub.site.com/rel/page.html",
    ]
    by_href = {l["href"]: l for l in r["links"]}
    assert by_href["https://other.net/x"]["is_internal"] is False
    assert by_href["https://sub.site.com/nav1"]["is_internal"] is True
    assert by_href["https://other.net/x"]["title"] == "Ext"


def test_scrape_images_skip_data_uri():
    r = scrape_one(HTML, "https://sub.site.com/dir/p.html")
    assert [i["src"] for i in r["images"]] == ["https://sub.site.com/i/a.png"]


def test_scrape_strips_script_style():
    r = scrape_one(HTML, "https://sub.site.com/p")
    assert "var x" not in r["cleaned_html"]
    assert ".x{}" not in r["cleaned_html"]
    assert "var x" not in r["text"]
    assert "Body text" in r["text"]


def test_scrape_none_html():
    r = scrape_one(None, "https://x.com")
    assert r["success"] is False
    assert r["links"] == []


def test_synth_link_graph_is_analytic(spark, sf_dir):
    pages = generate_pages(spark, sf_dir)
    rows = {r["url"]: r for r in pages.collect()}
    assert len(rows) == 500
    # pick a page, verify its outlinks match the arithmetic rule
    langs = {}
    for url, r in rows.items():
        doc_id = int(url.rsplit("/p", 1)[1].removesuffix(".html"))
        langs[doc_id] = r["lang"]
    doc_id = 42
    url = page_url(doc_id, langs[doc_id])
    assert url in rows
    out = scrape_one(bytes(rows[url]["html"]).decode(), url)
    expected_internal = [
        page_url(t, langs[t]) for t in outlink_targets(doc_id, 500)
    ]
    got_internal = [l["href"] for l in out["links"] if l["is_internal"]]
    # first-seen dedup: expected list may contain dups
    dedup_expected = list(dict.fromkeys(expected_internal))
    assert got_internal == dedup_expected
    assert external_url(doc_id) in [l["href"] for l in out["links"]]


def test_scrape_stage_spark(spark, sf_dir):
    pages = generate_pages(spark, sf_dir).limit(30)
    out = scrape_stage(pages, "html", "url").collect()
    assert len(out) == 30
    for r in out:
        doc_id = r["url"].rsplit("/p", 1)[1].removesuffix(".html")
        assert r["success"]
        # html/url alignment through the Arrow batch
        assert f"Doc {doc_id}:" in r["title"]
        assert r["raw_markdown"].count("# Doc") == 1
        assert r["references_markdown"].startswith("\n\n## References\n\n")
        assert len(r["links"]) >= 4


def test_scrape_stage_drops_cleaned_html_without_markdown(spark, sf_dir):
    """With markdown=False, "cleaned_html" in drop_cols removes the
    column and leaves every other column as the run that keeps it."""
    pages = generate_pages(spark, sf_dir).limit(20)
    kept = scrape_stage(pages, "html", "url", markdown=False)
    dropped = scrape_stage(pages, "html", "url", markdown=False,
                           drop_cols=("cleaned_html",))
    assert "cleaned_html" in kept.columns
    assert "cleaned_html" not in dropped.columns
    assert dropped.columns == [c for c in kept.columns if c != "cleaned_html"]

    def by_url(df):
        return {r["url"]: r.asDict(recursive=True) for r in df.collect()}

    assert by_url(dropped) == by_url(kept.drop("cleaned_html"))


def test_scrape_stage_single_python_eval(spark, sf_dir):
    """The scrape UDF must appear exactly once in the physical plan
    (a duplicated ArrowEvalPython doubles the Python work)."""
    pages = generate_pages(spark, sf_dir).limit(5)
    out = scrape_stage(pages, "html", "url").select("url", "title")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # one eval for the scrape stage ("process"), one for the synth
    # renderer ("render") — the scrape stage must not be duplicated
    assert plan.count("MapInPandas process") == 1


POISON_PAGES = [
    "<![<",                      # stdlib _markupbase AssertionError trigger
    "<p>ok</p><![<tail",         # garbage after recoverable content
    "<!DOCTYPE h <![CDATA[x",    # unterminated marked section
    "<a href='x' <b>><![[",      # attribute soup + marked garbage
]


def test_scrape_one_poisoned_pages_never_raise():
    """Malformed marked sections must degrade, not crash (reference
    recovers via lxml's recovering parser,
    content_scraping_strategy.py:1055-1087)."""
    for html in POISON_PAGES:
        r = scrape_one(html, "http://h0.example.com/p0.html")
        assert isinstance(r, dict) and "success" in r
    # recoverable content around the garbage survives
    r = scrape_one("<p>ok</p><![<tail", "http://h0.example.com/p0.html")
    assert r["success"] and r["text"] == "ok"


def test_scrape_one_catastrophic_parse_gives_error_row(monkeypatch):
    """If the parser fails outright, scrape_one emits a success=False
    row (the reference's crawl4ai_error_message fallback,
    content_scraping_strategy.py:1828-1864) instead of raising."""
    from crawl4ai_spark.functions import scrape as scrape_mod

    def boom(self, data):
        raise AssertionError("simulated _markupbase failure")

    monkeypatch.setattr(scrape_mod._DomBuilder, "feed", boom)
    r = scrape_one("<p>fine</p>", "http://h0.example.com/p0.html")
    assert r["success"] is False
    assert r["links"] == [] and r["text"] is None


def test_scrape_stage_survives_poisoned_batch(spark, sf_dir):
    """One bad page must not kill its Arrow batch: N pages in, N rows
    out, with the healthy pages fully scraped."""
    pages = generate_pages(spark, sf_dir).limit(8).select("url", "html")
    poisoned = spark.createDataFrame(
        [("http://h0.example.com/poison%d.html" % i, p)
         for i, p in enumerate(POISON_PAGES)],
        "url string, html string",
    ).coalesce(1)
    mixed = pages.union(poisoned).coalesce(1)  # force one batch
    out = scrape_stage(mixed, "html", "url").collect()
    assert len(out) == 12
    healthy = [r for r in out if "poison" not in r["url"]]
    assert len(healthy) == 8 and all(r["success"] for r in healthy)


def test_walk_reads_children_after_resuming():
    """``_walk`` reads a node's children only when the consumer resumes
    it, so a consumer that replaces ``n.children`` while holding ``n``
    (the tag-removal and fit_html passes do) changes what is walked
    next; untouched, the order is the recursive preorder."""
    from crawl4ai_spark.functions.scrape import _walk, parse_dom

    html = "<div><p>a<b>b</b></p><script>s</script><i>c</i></div>tail"

    def preorder(n):
        yield n
        for c in n.children:
            yield from preorder(c)

    root = parse_dom(html)
    assert [id(n) for n in _walk(root)] == [id(n) for n in preorder(root)]
    seen = []
    for n in _walk(root):
        seen.append(n.tag or n.attrs["text"])
        n.children = [c for c in n.children if c.tag not in ("script", "p")]
    assert seen == ["#root", "div", "i", "c", "tail"]


DEEP_DEPTH = 1500
DEEP_TABLE = (
    "<table><thead><tr><th>key</th><th>value</th></tr></thead><tbody>"
    + "".join(f"<tr><td>k{i}</td><td>{i}</td></tr>" for i in range(3))
    + "</tbody></table>"
)
DEEP_PAGE = (
    "<html><head><title>leaf table</title><script>var x = 1;</script>"
    "</head><body>" + '<div style="margin:0">word ' * DEEP_DEPTH
    + '<p id="x">leaf</p>' + DEEP_TABLE + "</div>" * DEEP_DEPTH
    + "</body></html>"
)


def _deep_cases():
    from crawl4ai_spark.functions.content_filter import (
        _find_body,
        bm25_filter_blocks,
        clean_element,
        prune_filter_blocks,
    )
    from crawl4ai_spark.functions.html_tools import preprocess_html_for_schema
    from crawl4ai_spark.functions.schema_extract import (
        json_css_extract,
        json_xpath_extract,
    )
    from crawl4ai_spark.functions.schema_infer import infer_schema
    from crawl4ai_spark.functions.scrape import parse_dom
    from crawl4ai_spark.functions.tables import extract_data_tables

    leaf = [{"name": "t", "type": "text"}]
    n = DEEP_DEPTH
    # expected values were taken from the recursive implementations run
    # under a raised recursion limit
    return {
        "json_css_extract": (
            lambda h: json_css_extract(h, {"baseSelector": "p#x", "fields": leaf}),
            [{"t": "leaf"}],
        ),
        "json_xpath_extract": (
            lambda h: json_xpath_extract(h, {"baseSelector": "//p", "fields": leaf}),
            [{"t": "leaf"}],
        ),
        "extract_data_tables": (
            extract_data_tables,
            [{"headers": ["key", "value"],
              "rows": [["k0", "0"], ["k1", "1"], ["k2", "2"]],
              "caption": "", "summary": "", "score": 10.0}],
        ),
        "prune_filter_blocks": (
            prune_filter_blocks,
            ['<div style="margin:0">word ' * n + '<p id="x">leaf</p>'
             + DEEP_TABLE + "</div>" * n],
        ),
        "bm25_filter_blocks": (bm25_filter_blocks, []),
        "clean_element": (
            lambda h: clean_element(_find_body(parse_dom(h))),
            "<body>" + "<div>word" * n + "<p>leaf</p>" + DEEP_TABLE
            + "</div>" * n + "</body>",
        ),
        # the processed page, not the raw-input fallback
        "preprocess_html_for_schema": (
            preprocess_html_for_schema,
            "<html><body>" + "<div>word " * n + '<p id="x">leaf</p>'
            + DEEP_TABLE + "</div>" * n + "</body></html>",
        ),
        "infer_schema": (
            infer_schema,
            {"baseSelector": "tr", "fields": [
                {"name": "td", "selector": "td", "type": "text"},
                {"name": "td_2", "selector": "td", "type": "text"}]},
        ),
        "scrape_one": (
            lambda h: scrape_one(h, "https://example.org/deep")["text"],
            "leaf table" + "word " * n + "leafkeyvaluek00k11k22",
        ),
    }


@pytest.mark.parametrize("entry", [
    "json_css_extract", "json_xpath_extract", "extract_data_tables",
    "prune_filter_blocks", "bm25_filter_blocks", "clean_element",
    "preprocess_html_for_schema", "infer_schema", "scrape_one",
])
def test_deep_page_never_recurses_out(entry):
    """Page depth is attacker-controlled: every DOM entry point must
    process a page nested deeper than the interpreter's recursion limit
    and give the same result as at any other depth, not raise (which
    kills the Arrow batch) or fall back to the raw input."""
    fn, expected = _deep_cases()[entry]
    assert fn(DEEP_PAGE) == expected
