"""DOM-direct markdown (scrape.markdown_from_dom): byte-identical to
the serialize->reparse string path ``html_to_markdown(cleaned_html)``
on every page, in each of its regimes: direct dispatch only, unsafe
text runs tokenized with the tag after them and resynced, and the rest
of the page tokenized (or the page made again) where a run may not
resync."""

import pytest

from crawl4ai_spark.functions.markdown import html_to_markdown
from crawl4ai_spark.functions.scrape import (
    cleaned_html,
    markdown_from_dom,
    parse_dom,
    scrape_one,
)
from crawl4ai_spark.synth import generate_pages
from scripts.markdown_differential import COUNTEREXAMPLES, differential


def _both(html: str, url: str = "https://x.test/"):
    root = parse_dom(html)
    fast = markdown_from_dom(root, url)
    slow = html_to_markdown(cleaned_html(root), url)
    return fast, slow


def test_corpus_wide_byte_identity(spark, sf_dir):
    """Every synthetic page matches the string path byte for byte."""
    rows = generate_pages(spark, sf_dir).select("url", "html").collect()
    assert len(rows) >= 400
    for r in rows:
        h = r["html"]
        if isinstance(h, (bytes, bytearray)):
            h = h.decode("utf-8", "replace")
        fast, slow = _both(h, r["url"])
        assert fast == slow, r["url"]


@pytest.mark.parametrize("html", [
    "",
    "   leading text <p>body</p> trailing   ",
    "<div><p>a</p><p>b</p><br><hr><img src='x.png' alt='pic'></div>",
    "<ul><li>one</li><li>two <b>bold</b> end</li></ul>",
    "<pre>  spaced\n  code\n</pre>after",
    "<table><tr><th>h1</th><th>h2</th></tr><tr><td>a</td><td>b</td></tr></table>",
    "<h1>Title</h1><blockquote>quoted <em>text</em></blockquote>",
    "<a href='https://a.example/x' title='t'>link text</a> tail",
    "<p>a<span></span>b</p>",  # adjacent text around an empty element
    "<div>*stars* _unders_ [brackets]</div>",  # md-escaping path
])
def test_edge_cases_byte_identity(html):
    fast, slow = _both(html)
    assert fast == slow


@pytest.mark.parametrize("html", [
    "<p>AT&amp;T</p>",            # '&' lands in the DOM text
    "<p>a &lt; b</p>",            # '<' lands in the DOM text
    '<a href="x?a=1&amp;b=2">q</a>',  # '&' in an attribute value
    # the reparse unescapes a value once more: '&copy' -> '\xa9'
    '<a href="x?a=1&amp;copy=2">q</a><img alt="&amp;lt;b&amp;gt;">',
    "<p title='say \"hi\"'>x</p>",    # '\"' in an attribute value
    # a text run fed alone would end in the entityref '&Tend' + '.'
    "<table><tr><td>AT&amp;Tend.</td></tr></table>",
    "<p>x &amp</p>",              # '&amp' without ';' at the page end
    "<p>&lt;script&gt;</p><p>hidden</p><p>&lt;/script&gt;after</p>",
    "<p>&lt;!--</p><b>in comment</b><p>--&gt;out</p>",
    # the tokenizer reads past the next tag on these, so a resync
    # precondition or post-feed check must send them to one feed() of
    # the rest of the page, like the whole string
    "<em>&lt;![x</em>tail<p>b</p>",             # garbage '<![' section
    "<p>&lt;b x = '</p><p>y</p><p>it's</p>",   # quote opened by text
    "&amp;#zz&amp;#zz&amp;#zz<p title='x;y'>",  # three '&#' bails
    "<p>&amp;#1a &amp;#1a &amp;#1a;</p><p>x</p>",  # '&#1a' is no charref
    '<b>&lt;!x<i title="a&gt;b">b;',            # '>' inside a value
])
def test_unsafe_pages_byte_identity(html):
    fast, slow = _both(html)
    assert fast == slow


def test_scrape_stage_matches_string_path(spark):
    """Mixed safe/unsafe pages through scrape_stage with the
    cleaned_html column dropped: raw_markdown must equal the string
    path for every row."""
    from crawl4ai_spark.functions.scrape import scrape_stage

    pages = [
        ("https://x.test/safe", "<div><h1>Safe</h1><p>plain text</p></div>"),
        ("https://x.test/amp", "<p>AT&amp;T says a &lt; b</p>"),
        ("https://x.test/attr", '<a href="x?a=1&amp;b=2">q</a>'),
    ]
    df = spark.createDataFrame(pages, "url string, html string")
    got = {
        r["url"]: r["raw_markdown"]
        for r in scrape_stage(
            df, "html", "url", markdown=True,
            drop_cols=("html", "cleaned_html"),
        ).collect()
    }
    for url, html in pages:
        want = html_to_markdown(cleaned_html(parse_dom(html)), url)
        assert got[url] == want, url


def test_scrape_one_contract_unchanged():
    r = scrape_one("<p>hi</p>", "https://x.test/")
    assert "_root" not in r
    assert r["cleaned_html"] == "<p>hi</p>"
    # the page's outer whitespace is stripped, as in the string it was
    assert scrape_one(" \n<p>hi</p> x \n", "https://x.test/")[
        "cleaned_html"] == "<p>hi</p> x"
    r2 = scrape_one("<p>hi</p>", "https://x.test/", want_root=True,
                    want_cleaned=False)
    assert r2["cleaned_html"] is None and r2["_root"] is not None


@pytest.mark.parametrize("html", COUNTEREXAMPLES)
def test_resync_counterexamples(html):
    """Pages on which dropping one resync precondition or post-feed
    check makes the output differ from the oracle."""
    fast, slow = _both(html)
    assert fast == slow


def test_abs_url_matches_urljoin():
    """_abs_url's fast paths must equal urljoin on every shape they
    accept and on the shapes next to them (structured fuzz over
    scheme/host/path combinations, and root-relative hrefs against
    http(s) and other bases)."""
    import itertools
    from urllib.parse import urljoin

    from crawl4ai_spark.functions.scrape import _abs_url

    schemes = ["https://", "http://"]
    hosts = ["a.example", "A.EXample", "u:p@h.example:8443", "[::1]:8080",
             "h", "www.x.co.uk"]
    paths = ["", "/", "/p", "/p/q.html", "//dbl//slash", "/p;params",
             "/p%20a", "/./x", "/../x", "/p/"]
    suffixes = ["", "?q=1", "#f", "?q=1#f", "#", "?"]
    bases = ["https://base.example/dir/page.html", "http://b/x"]
    relatives = ["x.html", "/abs/path", "../up", "//proto.example/p",
                 "mailto:a@b", "HTTPS://up.example/x", "http://",
                 # WHATWG control-char stripping (urlsplit removes
                 # embedded \t\n\r): must NOT take the fast path
                 "https://h.example/a\tb", "https://h.example/a\nb",
                 "https://h.example/a\rb/c"]
    for b in bases:
        for s, h, p, suf in itertools.product(schemes, hosts, paths, suffixes):
            href = s + h + p + suf
            assert _abs_url(b, href) == urljoin(b, href), (b, href)
        for href in relatives:
            assert _abs_url(b, href) == urljoin(b, href), (b, href)

    root_paths = ["/", "/p", "/p/", "/p/q.html", "/.hidden", "/a/.b/c",
                  "/./x", "/a/../b", "/a/.", "/a/..", "/..", "/.",
                  "/p;params", "/p;", "/a;x/b", "/a/..;x", "/p%20a",
                  "/a//b", "/a/", "/a:b", "//host/p", "///x", "/p ",
                  "/p\ta", "/p\na", "/\rp", "/ü/x", "/a\\b"]
    root_suffixes = ["", "?q=1&r=2", "?", "?q#", "#f", "#", "?a?b",
                     "?u=http://x//y", "?x=/../y", "?;p", " ", "?q\t"]
    root_bases = [
        "https://base.example/dir/page.html", "http://b/x?q=1#f",
        "HTTPS://Up.Example/x", "http://u:p@h.example:8443/a/b",
        "http://[::1]:8080/", "https://h.example", "http:///x",
        "file:///etc/x", "mailto:a@b.example", "ftp://f.example/x",
        "", "relative/base", "http://h\tx.example/",
    ]
    for b in root_bases:
        for p, suf in itertools.product(root_paths, root_suffixes):
            href = p + suf
            assert _abs_url(b, href) == urljoin(b, href), (b, href)


def test_abs_url_root_relative_skips_urljoin(monkeypatch):
    """The shapes extract_web pages are made of never reach urljoin."""
    from crawl4ai_spark.functions import scrape

    def no_urljoin(base, href):
        raise AssertionError(href)

    monkeypatch.setattr(scrape, "urljoin", no_urljoin)
    base = "HTTPS://u@H.example:8443/a/b.html?x#y"
    for href in ["/", "/p", "/doc/7?lang=en&src=s1&pos=3", "/.hidden/x",
                 "/a:b", "/p%20a", "/p "]:
        assert scrape._abs_url(base, href) == "https://u@H.example:8443" + href
    assert scrape._abs_url(base, "https://o.example/x") == "https://o.example/x"


def test_random_markup_differential():
    """Randomized differential (the generator of
    scripts/markdown_differential.py, tokenizer boundary cases included):
    markdown_from_dom matches the string path byte for byte, and each
    regime is exercised."""
    mismatches, regimes = differential(seeds=3, pages=2500)
    assert mismatches == []
    assert regimes["direct"] > 200, regimes
    assert regimes["resync"] > 200, regimes
    assert regimes["rest"] + regimes["recompute"] > 200, regimes
