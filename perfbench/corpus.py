"""Seeded inputs.

- ``documents``: an sf0.1-shaped ``documents`` table (5,000 docs of 10-100
  words over a 30-word vocabulary, five languages), the input of
  ``synth.generate_pages``. It is generated from a fixed corpus seed, so
  every run seed sees the same synth pages; the run seed only picks URL
  salts, start URLs and samples.
- ``web_pages``: the extract_web pages, generated from the run seed and the
  document texts. Tens of KB each, with query-string links (``&amp;``),
  character entities and inline scripts, so the DOM-direct markdown fast
  path declines them and the ``cleaned_html`` + ``html_to_markdown``
  fallback runs.
"""

from __future__ import annotations

import os
import random

import pandas as pd

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANG_WEIGHTS = (("en", 41), ("zh", 15), ("es", 15), ("fr", 15), ("de", 14))
CORPUS_SEED = 42
SF_DOCS = {"sf0.1": 5000, "sf0.01": 500}


def documents(n_docs: int, seed: int = CORPUS_SEED) -> pd.DataFrame:
    rng = random.Random(seed)
    langs = [lang for lang, w in LANG_WEIGHTS for _ in range(w)]
    rows = []
    for i in range(n_docs):
        text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))
        rows.append((i, text, rng.choice(langs), f"src{i % 20}", len(text)))
    return pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])


def write_documents(sf_dir: str, n_docs: int) -> pd.DataFrame:
    """Write ``{sf_dir}/documents.parquet`` and return the table."""
    os.makedirs(sf_dir, exist_ok=True)
    docs = documents(n_docs)
    docs.to_parquet(os.path.join(sf_dir, "documents.parquet"), index=False)
    return docs


# entities the markdown emitter must decode; script bodies the scrape strips
_ENTITIES = ("&amp;", "&lt;b&gt;", "&quot;q&quot;", "&#8212;", "&nbsp;",
             "&copy;", "&eacute;", "&#x2019;", "&hellip;")
_SCRIPT = (
    "<script>window.dataLayer=window.dataLayer||[];function track(a,b){"
    "if(a<b&&b>0){dataLayer.push({event:'v',a:a,b:b});}return a&&b;}"
    "track(%d,%d);</script>"
)


def _para(rng: random.Random, text: str, n_docs: int) -> str:
    w = text.split()
    i = rng.randrange(len(w))
    w[i] = (f'<a href="/doc/{rng.randrange(n_docs)}?lang={rng.choice(VOCAB)}'
            f'&amp;src=s{rng.randrange(20)}&amp;pos={i}">{w[i]}</a>')
    w[rng.randrange(len(w))] += " " + rng.choice(_ENTITIES)
    j = rng.randrange(len(w))
    w[j] = rng.choice(("<em>{}</em>", "<strong>{}</strong>", "<code>{}</code>")).format(w[j])
    return "<p>" + " ".join(w) + "</p>"


def web_page(rng: random.Random, texts: list[str], n: int) -> tuple[str, bytes]:
    """One synthetic-web page: returns (url, utf-8 html)."""
    url = f"https://site{n % 8}.example.org/a/{n}.html"
    title = " ".join(rng.choice(texts).split()[:5]).title()
    nav = "".join(
        f'<li><a href="/s/{w}?page={rng.randrange(9)}&amp;sort=asc&amp;ref=nav">'
        f"{w}</a></li>" for w in rng.sample(VOCAB, 12))
    body = []
    for s in range(rng.randint(8, 12)):
        paras = rng.sample(texts, 4)
        body.append(f"<h2>{' '.join(paras[0].split()[:4]).title()}</h2>")
        body.extend(_para(rng, t, len(texts)) for t in paras[1:])
        if s % 3 == 0:
            body.append("<ul>" + "".join(
                f"<li>{' '.join(rng.choice(texts).split()[:6])} &middot; "
                f"{rng.randrange(100)}</li>" for _ in range(4)) + "</ul>")
        if s % 4 == 1:
            body.append(
                f'<img src="/img/{n}-{s}.jpg?w=640&amp;h=480" '
                f'alt="{" ".join(paras[1].split()[:3])}">')
            body.append(_SCRIPT % (n, s))
        if s % 5 == 2:
            body.append("<table><tr><th>key</th><th>value</th></tr>" + "".join(
                f"<tr><td>{rng.choice(VOCAB)}</td><td>{rng.randrange(1000)}"
                "&nbsp;ms</td></tr>" for _ in range(5)) + "</table>")
    html = (
        '<!DOCTYPE html><html lang="en"><head><meta charset="utf-8">'
        f"<title>{title} &mdash; site {n % 8}</title>"
        f'<meta name="description" content="{" ".join(rng.choice(texts).split()[:12])}">'
        f'<meta property="og:title" content="{title}">'
        '<link rel="stylesheet" href="/css/site.css?v=3&amp;t=9">'
        + _SCRIPT % (n, 0)
        + "<style>body{font-family:sans-serif}.nav li{display:inline}</style>"
        f'</head><body><header><ul class="nav">{nav}</ul></header>'
        f"<main><article><h1>{title}</h1>"
        f'<p class="byline">By {rng.choice(VOCAB)} &middot; 2024 &copy; site</p>'
        + "".join(body)
        + "</article></main><footer>"
        + " | ".join(f'<a href="/about?id={k}&amp;f=1">about {k}</a>' for k in range(6))
        + "</footer>" + _SCRIPT % (n, 99) + "</body></html>"
    )
    return url, html.encode("utf-8")


def web_pages(seed: int, texts: list[str], n_pages: int) -> pd.DataFrame:
    rng = random.Random(f"extract_web:{seed}")
    rows = [web_page(rng, texts, n) for n in range(n_pages)]
    return pd.DataFrame(rows, columns=["url", "html"])
