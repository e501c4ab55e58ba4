"""JSON-CSS schema extraction tests (reference field-type semantics)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from crawl4ai_spark.functions.schema_extract import (
    json_css_extract,
    schema_extract_stage,
    select_all,
)
from crawl4ai_spark.functions.scrape import parse_dom

HTML = """
<html><body>
<div class="product" id="p1">
  <h2 class="name">Widget <em>One</em></h2>
  <span class="price">$19.99</span>
  <a class="buy" href="/buy/1" title="Buy now">buy</a>
  <ul class="tags"><li>alpha</li><li>beta</li></ul>
  <div class="meta"><span class="sku">SKU-001</span></div>
</div>
<div class="product" id="p2">
  <h2 class="name">GADGET Two</h2>
  <span class="price">$5.00</span>
  <a class="buy" href="/buy/2">buy</a>
  <ul class="tags"><li>gamma</li></ul>
</div>
<div class="other"><h2 class="name">not a product</h2></div>
</body></html>
"""

SCHEMA = {
    "baseSelector": "div.product",
    "fields": [
        {"name": "name", "selector": "h2.name", "type": "text"},
        {"name": "name_lower", "selector": "h2.name", "type": "text",
         "transform": "lowercase"},
        {"name": "price", "selector": "span.price", "type": "regex",
         "pattern": r"\$([\d.]+)"},
        {"name": "link", "selector": "a.buy", "type": "attribute",
         "attribute": "href"},
        {"name": "link_title", "selector": "a.buy", "type": "attribute",
         "attribute": "title", "default": "none"},
        {"name": "tags", "selector": "ul.tags li", "type": "list",
         "fields": [{"name": "tag", "type": "text"}]},
        {"name": "meta", "selector": "div.meta", "type": "nested",
         "fields": [{"name": "sku", "selector": "span.sku", "type": "text"}]},
        {"name": "name_html", "selector": "h2.name", "type": "html"},
        {"name": "double_price", "type": "computed",
         "expression": "float(price) * 2" if False else "price + price"},
    ],
    "baseFields": [
        {"name": "pid", "type": "attribute", "attribute": "id"},
    ],
}


def test_selector_engine():
    root = parse_dom(HTML)
    assert len(select_all(root, "div.product")) == 2
    assert len(select_all(root, "div.product h2.name")) == 2
    assert len(select_all(root, "#p1")) == 1
    assert len(select_all(root, "ul.tags > li")) == 3
    assert len(select_all(root, "div.product, div.other")) == 3
    assert len(select_all(root, "a[title]")) == 1
    assert len(select_all(root, 'a[href="/buy/2"]')) == 1
    assert select_all(root, "span.sku")[0].attrs == {"class": "sku"}


def test_schema_extraction():
    items = json_css_extract(HTML, SCHEMA)
    assert len(items) == 2
    p1, p2 = items
    assert p1["pid"] == "p1"
    assert p1["name"] == "WidgetOne"  # get_text(strip=True) semantics
    assert p1["name_lower"] == "widgetone"
    assert p1["price"] == "19.99"
    assert p1["link"] == "/buy/1"
    assert p1["link_title"] == "Buy now"
    assert p1["tags"] == [{"tag": "alpha"}, {"tag": "beta"}]
    assert p1["meta"] == {"sku": "SKU-001"}
    assert "<em>" in p1["name_html"]
    assert p1["double_price"] == "19.9919.99"  # computed over item ns
    assert p2["link_title"] == "none"  # default fires
    assert p2["meta"] == {}  # missing nested -> {}


def test_empty_and_garbage():
    assert json_css_extract(None, SCHEMA) == []
    assert json_css_extract("", SCHEMA) == []
    assert json_css_extract("<p>no products</p>", SCHEMA) == []


def test_schema_extract_stage_spark(spark):
    df = spark.createDataFrame([(1, HTML), (2, "<p>none</p>"), (3, None)],
                               "id int, html string")
    out = schema_extract_stage(df, "html", SCHEMA).orderBy("id").collect()
    items = json.loads(out[0]["extracted_content"])
    assert len(items) == 2 and items[0]["pid"] == "p1"
    assert json.loads(out[1]["extracted_content"]) == []
    assert json.loads(out[2]["extracted_content"]) == []
    # downstream structuring via from_json stays native
    parsed = (
        schema_extract_stage(df, "html", SCHEMA)
        .select(
            "id",
            F.from_json(
                "extracted_content",
                "array<struct<pid:string,name:string,price:string>>",
            ).alias("items"),
        )
        .orderBy("id")
        .collect()
    )
    assert parsed[0]["items"][0]["name"] == "WidgetOne"


CSS_EXT_HTML = """
<div id='top'>
  <a href='/a.pdf' title='doc one'>A</a>
  <a href='page.html' class='nav link'>B</a>
  <a href='https://x.com/c' lang='en-US'>C</a>
  <p>p1</p><p>p2</p><p>p3</p>
  <span>s1</span>
</div>
<ul><li>i1</li><li>i2</li><li>i3</li></ul>"""


def test_css_attribute_operators_and_pseudos():
    """r3 CSS widening toward the reference's soupsieve surface:
    attribute operators, multiple attrs, positional pseudo-classes,
    adjacent/general sibling combinators."""
    from crawl4ai_spark.functions.schema_extract import select_all
    from crawl4ai_spark.functions.scrape import parse_dom

    root = parse_dom(CSS_EXT_HTML)

    def texts(sel):
        return [
            "".join(t.attrs.get("text", "") for t in n.children)
            for n in select_all(root, sel)
        ]

    cases = [
        ("a[href$='.pdf']", ["A"]),
        ("a[href^='https://']", ["C"]),
        ("a[title*='one']", ["A"]),
        ("a[class~='nav']", ["B"]),
        ("a[lang|='en']", ["C"]),
        ("a[href][title]", ["A"]),
        ("a:first-child", ["A"]),
        ("p:nth-child(5)", ["p2"]),
        ("li:nth-child(2)", ["i2"]),
        ("li:last-child", ["i3"]),
        ("p:first-of-type", ["p1"]),
        ("p:nth-of-type(2)", ["p2"]),
        ("span:only-of-type", ["s1"]),
        ("a + a", ["B", "C"]),
        ("a + p", ["p1"]),
        ("a ~ span", ["s1"]),
        ("p ~ p", ["p2", "p3"]),
        ("div > a.nav + a", ["C"]),
        # groups return document order across the whole selector
        ("ul > li:nth-child(2) , span", ["s1", "i2"]),
    ]
    for sel, want in cases:
        assert texts(sel) == want, sel


def test_css_unsupported_pseudo_raises():
    import pytest

    from crawl4ai_spark.functions.schema_extract import compile_selector

    for bad in ["a:hover", "p:nth-child(odd)", "a:not(.x)", "p:nth-child",
                "a >", "+ a"]:
        with pytest.raises(ValueError):
            compile_selector(bad)


def test_css_fragment_top_level_pseudos():
    """Position pseudos work on fragment top-level elements (the #root
    container provides the sibling list)."""
    from crawl4ai_spark.functions.schema_extract import select_all
    from crawl4ai_spark.functions.scrape import parse_dom

    root = parse_dom("<li>a</li><li>b</li><li>c</li>")
    got = [
        n.children[0].attrs["text"]
        for n in select_all(root, "li:nth-child(2)")
    ]
    assert got == ["b"]


def test_css_quoted_values_with_spaces_and_combinator_chars():
    """Tokenization must keep whitespace and '~'/'>' INSIDE quoted
    attribute values out of the combinator grammar."""
    from crawl4ai_spark.functions.schema_extract import select_all
    from crawl4ai_spark.functions.scrape import parse_dom

    root = parse_dom(
        "<a title='target 0'>T0</a><a title='a > b ~ c'>W</a>"
        "<a title='plain'>P</a>"
    )
    def texts(sel):
        return [n.children[0].attrs["text"] for n in select_all(root, sel)]

    assert texts("a[title^='target 0']") == ["T0"]
    assert texts("a[title='a > b ~ c']") == ["W"]
    assert texts("a[title*=' > ']") == ["W"]


def test_selector_with_quoted_comma_compiles():
    """A comma inside an attribute string is part of the group —
    'div[title="a,b"] span' must compile (the old split broke it)."""
    from crawl4ai_spark.functions.schema_extract import (
        compile_selector,
        json_css_extract,
    )

    groups = compile_selector('div[title="a,b"] span')
    assert len(groups) == 1
    html = '<div title="a,b"><span>hit</span></div><div><span>no</span></div>'
    out = json_css_extract(
        html,
        {"baseSelector": 'div[title="a,b"] span',
         "fields": [{"name": "t", "type": "text"}]},
    )
    assert out == [{"t": "hit"}]


def test_basefields_runtime_error_falls_back_to_default():
    """A per-field runtime error in baseFields (regex without capture
    group) must degrade to the field default like top-level fields do,
    not crash the page extraction."""
    from crawl4ai_spark.functions.schema_extract import json_css_extract

    html = '<div class="b"><span>foo text</span></div>'
    out = json_css_extract(
        html,
        {
            "baseSelector": "div.b",
            "baseFields": [
                {"name": "x", "type": "regex", "pattern": "foo",
                 "default": "dflt"},
            ],
            "fields": [{"name": "t", "type": "text"}],
        },
    )
    assert out and out[0]["t"] == "foo text"
    assert out[0].get("x", "dflt") == "dflt"
