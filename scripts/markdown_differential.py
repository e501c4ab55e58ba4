"""Randomized differential for the DOM-direct markdown path.

Generates random markup (tokenizer boundary cases included), and checks
for every page that ``scrape.markdown_from_dom`` is byte-identical to its
oracle ``html_to_markdown(cleaned_html(root), url)``. Prints each
mismatching page and the number of pages per ``markdown_from_dom`` regime
(direct, resync, rest, recompute):

    python scripts/markdown_differential.py --seeds 11 --pages 10000

Exits 1 if any page mismatches. ``tests/test_markdown_fastpath.py``
imports the generator from here, so there is one copy of it.
"""

from __future__ import annotations

import argparse
import random
import sys
from collections import Counter
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from crawl4ai_spark.functions import scrape  # noqa: E402
from crawl4ai_spark.functions.markdown import html_to_markdown  # noqa: E402

TAGS = ["div", "p", "span", "b", "em", "h2", "li", "ul", "a", "pre",
        "td", "tr", "table", "blockquote", "code", "br", "img", "hr",
        "textarea", "title", 'p="x']
VOID = ("br", "img", "hr")
TEXTS = ["plain", "two words", "  spaced  ", "*md*", "[x]", "a_b",
         "AT&amp;T", "1 &lt; 2", "tail\n", "\tindent", "end.",
         "entity &copy; here", "&#65;num", "AT&amp;Tend.", "x &amp",
         "&amp;", "&lt;", "&lt;b&gt;", "&lt;/b&gt;", "&lt;i",
         "&lt;script&gt;", "&lt;/script&gt;", "&lt;!--", "--&gt;",
         "&lt;![CDATA[", "]]&gt;", "&lt;?pi", "&lt;!x", "&lt;/",
         "&quot;q&quot;", "'", "a;b", "&amp;#12", "]&gt;", "&lt;b y=",
         # the tokenizer reads past the next tag on these
         "&amp;#", "&amp;#zz", "&amp;#x", "&amp;#1a", "&lt;![x",
         "&lt;b x='", "&lt;b x =&quot;", "&lt;/b x", "&lt;style x=",
         "&lt;b x=&lt;![x"]
ATTRS = [("href", "https://a.example/x"), ("href", "rel/path"),
         ("src", "i.png"), ("title", "t"), ("class", "c d"),
         ("title", 'q"uote'), ("href", "x?a=1&amp;b=2"),
         ("href", "x?a=1&amp;copy=2"), ("alt", "&amp;lt;b&amp;gt;"),
         ("alt", ""), ("id", "z"), ("title", "a&lt;b"),
         ("title", "a>b"), ("href", "/p?a>b"), ("title", "x;y"),
         ("title", "&amp;#zz"), ("title", "a&quot; z='q"),
         ("title", "a--&gt;b"), ("data-x", "it's"), ("title", "a b ='c"),
         ("=k", "a b ='c")]
# markdown_from_dom differs from the oracle on each page if it drops
# one of its resync preconditions (the first six: a '>' in the next
# tag's value, a quote or '<!' in a run with '<', an '=' in the next
# tag's name or leading one of its attribute names), its post-feed
# checks (three '&#' bails; a run that ends a <style> start tag), or
# feeds a run without the tag after it ('&#1a', 'AT&Tend.')
COUNTEREXAMPLES = [
    '<em>&lt;/b x<textarea title="a>b">two words&amp;</textarea></em>',
    "<p>&lt;b x =&quot;<i>y</i> z&quot; w</p>",
    "<p>&lt;b x ='<i>y</i> z' w</p>",
    "<p>&lt;![x <i>y</i> ]&gt; z</p><p>w</p>",
    """<div>&lt;b <p="x k="a ='b">y</p></div><i>it's</i> <b>z</b>""",
    """<div>&lt;b x<p =k="a b ='c">y</p></div><i>it's</i> <b>z</b>""",
    "<p>x &amp;#1a</p><p>&amp;#1a</p><p>&amp;#1a;</p><b>y</b>",
    "<p>&lt;style x=</p><body>y</body>",
    "<table><tr><td>AT&amp;Tend.</td><td>x</td></tr></table>",
]


def random_markup(rng: random.Random, depth: int = 0) -> str:
    """One random fragment: nested tags from ``TAGS`` with at most one
    attribute from ``ATTRS``, and text runs from ``TEXTS``."""
    parts = []
    for _ in range(rng.randint(1, 4)):
        if depth > 3 or rng.random() < 0.4:
            parts.append(rng.choice(TEXTS))
            continue
        t = rng.choice(TAGS)
        a = ""
        if rng.random() < 0.5:
            k, v = rng.choice(ATTRS)
            a = f' {k}="{v}"'
        if t in VOID:
            parts.append(f"<{t}{a}>")
        else:
            parts.append(f"<{t}{a}>{random_markup(rng, depth + 1)}</{t}>")
    return "".join(parts)


def check(html: str, url: str = "https://x.test/") -> str | None:
    """The page's regime if markdown_from_dom matches the oracle, else None."""
    root = scrape.parse_dom(html)
    fast, regime = scrape.markdown_regime(root, url)
    return regime if fast == html_to_markdown(scrape.cleaned_html(root), url) else None


def differential(seeds: int, pages: int) -> tuple[list[str], Counter]:
    """``pages`` random pages from each of ``seeds`` seeds, plus the
    counterexamples: the mismatching pages and the pages per regime."""
    mismatches: list[str] = []
    regimes: Counter = Counter()
    htmls = list(COUNTEREXAMPLES)
    for seed in range(seeds):
        rng = random.Random(seed)
        htmls.extend(random_markup(rng) for _ in range(pages))
    for html in htmls:
        regime = check(html)
        if regime is None:
            mismatches.append(html)
        else:
            regimes[regime] += 1
    return mismatches, regimes


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=int, default=11)
    ap.add_argument("--pages", type=int, default=10_000, help="pages per seed")
    args = ap.parse_args()
    mismatches, regimes = differential(args.seeds, args.pages)
    for html in mismatches:
        print("MISMATCH", repr(html))
    print(f"pages {sum(regimes.values()) + len(mismatches)}, "
          f"mismatches {len(mismatches)}, regimes "
          + ", ".join(f"{k} {regimes[k]}" for k in ("direct", "resync", "rest", "recompute")))
    return 1 if mismatches else 0


if __name__ == "__main__":
    sys.exit(main())
