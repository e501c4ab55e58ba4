"""Parity lock: the extract stage's whole output, digested per column,
must equal digests recorded from the unmodified tree.

- ``extract_web`` seed 11: 600 real-shaped pages (entities, ``&amp;``
  links, inline scripts) against the digest perfbench recorded in
  ``perfbench/expected.json``.
- the synth pages of the sf0.001 fixture (they take the DOM walk's
  direct events) against a literal recorded here.

Digests are perfbench's order-independent per-column ``xxhash64`` sums,
so a single changed byte in any column of any row fails the test."""

from perfbench import checks, corpus

from crawl4ai_spark.functions.scrape import scrape_stage
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
