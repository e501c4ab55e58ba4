"""DOM-direct markdown (scrape.markdown_from_dom): byte-identical to
the serialize->reparse string path ``html_to_markdown(cleaned_html)``
on every page, pages whose rest it runs through the tokenizer from the
first unsafe event on included."""

import pytest

from crawl4ai_spark.functions.markdown import html_to_markdown
from crawl4ai_spark.functions.scrape import (
    _dom_events,
    cleaned_html,
    markdown_from_dom,
    parse_dom,
    scrape_one,
)
from crawl4ai_spark.synth import generate_pages


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
    # the tokenizer reads past the next tag, so the rest of the page
    # must go through one feed() like the whole string
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


def test_abs_url_matches_urljoin():
    """_abs_url fast path must equal urljoin on every shape it
    accepts (structured fuzz over scheme/host/path combinations)."""
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


def test_random_markup_differential():
    """Randomized differential: on arbitrary generated markup,
    tokenizer boundary cases included, markdown_from_dom matches the
    string path byte for byte."""
    import random

    rng = random.Random(20260819)
    tags = ["div", "p", "span", "b", "em", "h2", "li", "ul", "a", "pre",
            "td", "tr", "table", "blockquote", "code", "br", "img", "hr",
            "textarea", "title"]
    texts = ["plain", "two words", "  spaced  ", "*md*", "[x]", "a_b",
             "AT&amp;T", "1 &lt; 2", "tail\n", "\tindent", "end.",
             "entity &copy; here", "&#65;num", "AT&amp;Tend.", "x &amp",
             "&amp;", "&lt;", "&lt;b&gt;", "&lt;/b&gt;", "&lt;i",
             "&lt;script&gt;", "&lt;/script&gt;", "&lt;!--", "--&gt;",
             "&lt;![CDATA[", "]]&gt;", "&lt;?pi", "&lt;!x", "&lt;/",
             "&quot;q&quot;", "'", "a;b", "&amp;#12", "]&gt;", "&lt;b y=",
             # the tokenizer reads past the next tag on these
             "&amp;#", "&amp;#zz", "&amp;#x", "&amp;#1a", "&lt;![x",
             "&lt;b x='"]
    attrs = [("href", "https://a.example/x"), ("href", "rel/path"),
             ("src", "i.png"), ("title", "t"), ("class", "c d"),
             ("title", 'q"uote'), ("href", "x?a=1&amp;b=2"),
             ("href", "x?a=1&amp;copy=2"), ("alt", "&amp;lt;b&amp;gt;"),
             ("alt", ""), ("id", "z"), ("title", "a&lt;b"),
             ("title", "a>b"), ("title", "x;y"), ("title", "&amp;#zz"),
             ("title", "a&quot; z='q"), ("title", "a--&gt;b"),
             ("data-x", "it's")]

    def gen(depth):
        n = rng.randint(1, 4)
        parts = []
        for _ in range(n):
            if depth > 3 or rng.random() < 0.4:
                parts.append(rng.choice(texts))
                continue
            t = rng.choice(tags)
            a = ""
            if rng.random() < 0.5:
                k, v = rng.choice(attrs)
                a = f' {k}="{v}"'
            if t in ("br", "img", "hr"):
                parts.append(f"<{t}{a}>")
            else:
                parts.append(f"<{t}{a}>{gen(depth + 1)}</{t}>")
        return "".join(parts)

    def unsafe(ev):  # where markdown_from_dom starts feeding the rest
        if ev[0] == "s":
            return any('"' in v for _, v in ev[2])
        return ev[0] == "d" and ("&" in ev[1] or "<" in ev[1])

    direct = replayed = 0
    for _ in range(2000):
        html = gen(0)
        fast, slow = _both(html)
        assert fast == slow, html
        if any(map(unsafe, _dom_events(parse_dom(html), frozenset()))):
            replayed += 1
        else:
            direct += 1
    # both regimes must actually be exercised
    assert min(direct, replayed) > 200, (direct, replayed)
