"""CLI tier (reference cli.py `crawl`/`examples` + Spark `monitor`):
in-process click invocations over a real pages parquet. The CLI reuses
the harness SparkSession (and must NOT stop it)."""

import json
import os

import pytest
from click.testing import CliRunner

from crawl4ai_spark.cli import cli, parse_key_values
from crawl4ai_spark.operators.frontier import round_log
from crawl4ai_spark.synth import generate_pages, page_url


@pytest.fixture(scope="module")
def corpus(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("cli") / "pages.parquet")
    generate_pages(spark, sf_dir).write.parquet(path)
    langs = {
        r["doc_id"]: r["lang"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "lang")
        .collect()
    }
    return path, langs


def _invoke(*args):
    return CliRunner().invoke(cli, list(args), catch_exceptions=False)


# -- key=value parser: exact mirror of cli.py:108-131 ---------------------

def test_parse_key_values_coercions():
    got = parse_key_values(
        None, None,
        "a=true,b=False,c=7,d=1.5,e=[xy],g=hello",
    )
    assert got == {
        "a": True, "b": False, "c": 7, "d": 1.5,
        "e": ["xy"], "g": "hello",
    }
    # reference quirk kept verbatim (cli.py:112 splits on ',' BEFORE
    # the [list] branch, so a list containing commas cannot parse)
    import click as _click

    with pytest.raises(_click.BadParameter):
        parse_key_values(None, None, "e=[x, y]")
    import click as _click

    with pytest.raises(_click.BadParameter):
        parse_key_values(None, None, "novalue")


def test_single_page_markdown(spark, corpus):
    path, langs = corpus
    url = page_url(1, langs[1])
    res = _invoke("crawl", url, "--pages", path, "-o", "markdown")
    assert res.exit_code == 0, res.output
    assert len(res.output.strip()) > 0
    # must match the engine's own pipeline output for the same page
    from crawl4ai_spark.functions.scrape import scrape_stage
    from crawl4ai_spark.operators.fetch import PagesJoinFetcher, fetch_stage

    one = spark.createDataFrame([(url,)], "url string")
    fetched = fetch_stage(one, PagesJoinFetcher(spark.read.parquet(path)))
    expected = (
        scrape_stage(fetched, "html", "url", markdown=True)
        .select("raw_markdown").collect()[0][0]
    )
    assert res.output.rstrip("\n") == expected.rstrip("\n")


def test_single_page_all_json(corpus):
    path, langs = corpus
    url = page_url(2, langs[2])
    res = _invoke("crawl", url, "--pages", path, "-o", "all")
    assert res.exit_code == 0, res.output
    d = json.loads(res.output)
    assert d["url"] == url and d["success"] is True
    assert "raw_markdown" in d and "html" not in d


def test_schema_extraction_json(corpus, tmp_path):
    path, langs = corpus
    url = page_url(3, langs[3])
    (tmp_path / "extract.json").write_text('{"type": "json-css"}')
    (tmp_path / "schema.json").write_text(json.dumps({
        "baseSelector": "a",
        "fields": [
            {"name": "href", "selector": "", "type": "attribute",
             "attribute": "href"},
        ],
    }))
    res = _invoke(
        "crawl", url, "--pages", path,
        "-e", str(tmp_path / "extract.json"),
        "-s", str(tmp_path / "schema.json"),
        "-o", "json",
    )
    assert res.exit_code == 0, res.output
    items = json.loads(res.output)
    assert isinstance(items, list)


def test_fit_markdown_output(corpus, tmp_path):
    path, langs = corpus
    url = page_url(4, langs[4])
    (tmp_path / "filter.json").write_text(
        '{"type": "pruning", "threshold": 0.48}'
    )
    res = _invoke(
        "crawl", url, "--pages", path,
        "-f", str(tmp_path / "filter.json"), "-o", "md-fit",
    )
    assert res.exit_code == 0, res.output


def test_deep_crawl_and_monitor(spark, corpus, tmp_path):
    path, langs = corpus
    url = page_url(0, langs[0])
    wd = str(tmp_path / "run")
    out_file = str(tmp_path / "out.json")
    res = _invoke(
        "crawl", url, "--pages", path, "--deep-crawl", "bfs",
        "--max-pages", "5", "--workdir", wd, "-o", "all",
        "-O", out_file,
    )
    assert res.exit_code == 0, res.output
    rows = json.loads(open(out_file).read())
    assert isinstance(rows, list) and rows[0]["url"] == url
    assert 0 in round_log(spark, wd)  # round 0 committed
    # the CLI must not have stopped the shared session
    assert spark.range(1).count() == 1

    mon = _invoke("monitor", wd)
    assert mon.exit_code == 0
    assert "Web Crawler Dashboard" in mon.output


def test_deep_crawl_with_filter_and_extraction(corpus, tmp_path):
    """Deep-crawl results drop cleaned_html; the CLI must re-resolve it
    through the fetch seam for the filter/extraction stages."""
    path, langs = corpus
    url = page_url(0, langs[0])
    (tmp_path / "filter.json").write_text('{"type": "pruning"}')
    res = _invoke(
        "crawl", url, "--pages", path, "--deep-crawl", "bfs",
        "--max-pages", "3", "-f", str(tmp_path / "filter.json"),
        "-o", "md-fit",
    )
    assert res.exit_code == 0, res.output
    # the "main result" is the ROUND-0 SEED, even after the
    # cleaned_html re-join (ordering must be applied last)
    assert res.output.startswith("# Doc 0:")
    (tmp_path / "extract.json").write_text('{"type": "json-css"}')
    (tmp_path / "schema.json").write_text(json.dumps({
        "baseSelector": "a",
        "fields": [{"name": "href", "selector": "", "type": "attribute",
                    "attribute": "href"}],
    }))
    res = _invoke(
        "crawl", url, "--pages", path, "--deep-crawl", "bfs",
        "--max-pages", "3",
        "-e", str(tmp_path / "extract.json"),
        "-s", str(tmp_path / "schema.json"), "-o", "json",
    )
    assert res.exit_code == 0, res.output
    assert isinstance(json.loads(res.output), list)


def test_errors_and_seams(corpus, tmp_path):
    path, _ = corpus
    # no page source named
    res = _invoke("crawl", "https://x.test/")
    assert res.exit_code != 0 and "--pages" in res.output
    # LLM seams are honest errors (question / json-extract / type llm)
    res = _invoke("crawl", "https://x.test/", "--pages", path, "-q", "hi")
    assert res.exit_code != 0 and "adapter" in res.output
    (tmp_path / "e.json").write_text('{"type": "llm"}')
    res = _invoke(
        "crawl", "https://x.test/", "--pages", path,
        "-e", str(tmp_path / "e.json"),
    )
    assert res.exit_code != 0 and "adapter" in res.output
    # bad extraction type mirrors the reference message
    (tmp_path / "bad.json").write_text('{"type": "nope"}')
    res = _invoke(
        "crawl", "https://x.test/", "--pages", path,
        "-e", str(tmp_path / "bad.json"),
    )
    assert res.exit_code != 0 and "Invalid extraction type" in res.output


def test_examples_command():
    res = _invoke("examples")
    assert res.exit_code == 0 and "crawl4ai_spark crawl" in res.output
