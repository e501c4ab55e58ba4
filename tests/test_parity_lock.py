"""Parity lock: the extract stage's whole output, digested per column,
must equal digests recorded from the unmodified tree.

- ``extract_web`` seed 11: 600 real-shaped pages (entities, ``&amp;``
  links, inline scripts) against the digest perfbench recorded in
  ``perfbench/expected.json``.
- the synth pages of the sf0.001 fixture (they take the DOM walk's
  direct events) against a literal recorded here.
- the first 200 ``extract_web`` seed 11 pages through every other DOM
  pass (tables, pruning, BM25, fit_html, CSS/XPath extraction, schema
  inference), on the driver, against literals recorded here.

Stage digests are perfbench's order-independent per-column ``xxhash64``
sums; the DOM-pass digests hash each page's output in page order. So a
single changed byte in any output of any page fails the test."""

import hashlib
from functools import lru_cache

from perfbench import checks, corpus

from crawl4ai_spark.functions.content_filter import (
    bm25_filter_blocks,
    prune_filter_blocks,
)
from crawl4ai_spark.functions.html_tools import preprocess_html_for_schema
from crawl4ai_spark.functions.schema_extract import (
    json_css_extract,
    json_xpath_extract,
)
from crawl4ai_spark.functions.schema_infer import infer_schema
from crawl4ai_spark.functions.scrape import (
    _walk,
    outer_html,
    outer_html_lengths,
    parse_dom,
    scrape_stage,
)
from crawl4ai_spark.functions.tables import extract_data_tables
from crawl4ai_spark.synth import generate_pages

# recorded from the unmodified tree: scrape_stage over
# generate_pages(spark, sf_dir) for the sf0.001 fixture (500 pages)
SYNTH_SF0001 = {
    "headings": 4439603001650441,
    "images": 4508177880886394,
    "links": 4263612243112277,
    "markdown_with_citations": 4396180379109914,
    "meta": 4354023315879517,
    "raw_markdown": 4391120016784657,
    "references_markdown": 4593325867560241,
    "rows": 500,
    "success": 4415331358941988,
    "text_extracted": 4402300698465279,
    "title": 4439603001650441,
    "url": 4310220646225644,
}


def _digests(df) -> dict:
    out = scrape_stage(df, markdown=True, drop_cols=("html", "cleaned_html"))
    return out.agg(*checks.digest_exprs(out)).first().asDict()


def test_extract_web_seed11_matches_recorded(spark):
    texts = list(corpus.documents(corpus.SF_DOCS["sf0.1"])["text"])
    pdf = corpus.web_pages(11, texts, 600)
    df = spark.createDataFrame(pdf, "url string, html binary")
    assert _digests(df) == checks.load_expected("extract_web", 11)


def test_synth_pages_match_recorded(spark, sf_dir):
    df = generate_pages(spark, sf_dir).select("url", "html")
    assert _digests(df) == SYNTH_SF0001


# recorded from the tree before the DOM walk, text and serializer
# helpers moved into scrape.py: per pass, the first 16 hex digits of a
# sha256 over repr(output) + NUL for each page, in page order
DOM_PASSES_SEED11 = {
    "tables": "354dfb6d13099ee9",
    "prune": "7f984d99bd4820c5",
    "bm25": "1596978b018daf80",
    "fit_html": "11f46d54296ee2ed",
    "css": "61e32089ab63f56a",
    "xpath": "6841f6d31525b683",
    "infer_schema": "dc06df2f5efbeb67",
}

# one text and one html field per engine; the html field serializes
# links whose hrefs hold unescaped ``&``
_SCHEMA_CSS = {"baseSelector": "article > p", "fields": [
    {"name": "text", "type": "text"},
    {"name": "link", "selector": "a", "type": "html"},
]}
_SCHEMA_XPATH = {"baseSelector": "//article/p", "fields": [
    {"name": "text", "type": "text"},
    {"name": "link", "selector": ".//a", "type": "html"},
]}

_DOM_PASSES = {
    "tables": extract_data_tables,
    "prune": prune_filter_blocks,
    "bm25": bm25_filter_blocks,  # query derived from the page
    "fit_html": preprocess_html_for_schema,
    "css": lambda h: json_css_extract(h, _SCHEMA_CSS),
    "xpath": lambda h: json_xpath_extract(h, _SCHEMA_XPATH),
    "infer_schema": infer_schema,
}


@lru_cache(maxsize=1)
def _seed11_pages() -> tuple[str, ...]:
    """The first 200 of the 600 pages that
    ``test_extract_web_seed11_matches_recorded`` builds (the generator
    draws pages in order from one seeded rng)."""
    texts = list(corpus.documents(corpus.SF_DOCS["sf0.1"])["text"])
    return tuple(
        h.decode("utf-8") for h in corpus.web_pages(11, texts, 200)["html"]
    )


def test_dom_passes_seed11_match_recorded():
    """No Spark session; the seed-11 pages, see ``_seed11_pages``."""
    digests = {}
    for name, fn in _DOM_PASSES.items():
        h = hashlib.sha256()
        for page in _seed11_pages():
            h.update(repr(fn(page)).encode())
            h.update(b"\0")
        digests[name] = h.hexdigest()[:16]
    assert digests == DOM_PASSES_SEED11


def test_outer_html_lengths_match_serializer_seed11():
    """Pruning scores each element by its children's markup length,
    summed bottom-up once (``outer_html_lengths``) instead of
    serializing every subtree: each sum must equal the serializer's."""
    for page in _seed11_pages():
        root = parse_dom(page)
        lens = outer_html_lengths(root)
        nodes = list(_walk(root))
        assert len(lens) == len(nodes)
        for n in nodes:
            assert lens[id(n)] == len(outer_html(n))
