"""Output checks.

- Digests: order-independent per-column sums of ``xxhash64(key, column)``
  (44 bits per row, so 10^5 rows cannot overflow a long). For the recorded
  seeds they are compared with ``expected.json``, made from the unmodified
  tree by ``record.py``.
- For any seed: invariants, and a seeded sample of rows recomputed on the
  driver with the engine's per-page functions.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F
from pyspark.sql.types import MapType

MASK = (1 << 44) - 1
EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def _hashable(field):
    c = F.col(field.name)
    if isinstance(field.dataType, MapType):  # maps are not hashable in Spark
        c = F.array_sort(F.map_entries(c))
    return c


def digest_exprs(df, key: str = "url", skip=(), sample=None) -> list:
    """Aggregate expressions: one digest per column of ``df`` (plus
    ``sample.<col>`` digests restricted to ``sample`` keys) and ``rows``."""
    out = [F.count(F.lit(1)).alias("rows")]
    for f in df.schema.fields:
        if f.name in skip:
            continue
        h = F.xxhash64(F.col(key), _hashable(f)).bitwiseAND(F.lit(MASK))
        out.append(F.sum(h).alias(f.name))
        if sample:
            out.append(F.sum(F.when(F.col(key).isin(sample), h)).alias("sample." + f.name))
    return out


def split_sample(digests: dict) -> tuple[dict, dict]:
    """(whole-output digests, ``sample.`` digests with the prefix removed)."""
    whole = {k: v for k, v in digests.items() if not k.startswith("sample.")}
    part = {k[7:]: v for k, v in digests.items() if k.startswith("sample.")}
    return whole, part


def compare(expected: dict, got: dict, what: str) -> list[str]:
    """Mismatch messages; keys missing on either side count as mismatches."""
    return [f"{what}: {k} expected {expected.get(k)!r} got {got.get(k)!r}"
            for k in sorted(set(expected) | set(got))
            if expected.get(k) != got.get(k)]


def load_expected(workload: str, seed: int) -> dict | None:
    try:
        with open(EXPECTED_PATH) as f:
            return json.load(f).get(workload, {}).get(str(seed))
    except FileNotFoundError:
        return None


def save_expected(workload: str, seed: int, value: dict) -> None:
    try:
        with open(EXPECTED_PATH) as f:
            data = json.load(f)
    except FileNotFoundError:
        data = {}
    data.setdefault(workload, {})[str(seed)] = value
    with open(EXPECTED_PATH, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
        f.write("\n")


# -- per-row recompute ------------------------------------------------------

def scrape_row(html: bytes, url: str) -> dict:
    """What ``scrape_stage(markdown=True, drop_cols=("html",
    "cleaned_html"))`` emits for one page, computed with the per-page
    functions on the driver."""
    from crawl4ai_spark.functions.markdown import html_to_markdown, links_to_citations
    from crawl4ai_spark.functions.scrape import cleaned_html, markdown_from_dom, scrape_one

    r = scrape_one(html, url, want_root=True, want_cleaned=False)
    root = r.pop("_root", None)
    r.pop("cleaned_html")
    r["text_extracted"] = r.pop("text")
    raw = cit = refs = None
    if r["success"]:
        raw = markdown_from_dom(root, url)
        if raw is None:
            raw = html_to_markdown(cleaned_html(root), url)
        cit, refs = links_to_citations(raw, url)
    r.update(raw_markdown=raw, markdown_with_citations=cit, references_markdown=refs)
    return r


def _norm(v):
    return json.loads(json.dumps(v, sort_keys=True, default=str))


def compare_rows(spark_rows: dict, html_by_url: dict, fields) -> list[str]:
    """Recompute each sampled url on the driver and compare ``fields``
    with the Spark output rows (``url -> Row``)."""
    bad = []
    for url, row in sorted(spark_rows.items()):
        want = scrape_row(html_by_url[url], url)
        got = row.asDict(recursive=True)
        for f in fields:
            if _norm(got.get(f)) != _norm(want.get(f)):
                bad.append(f"row {url}: column {f} differs from the driver recompute")
    return bad


# -- crawl invariants -------------------------------------------------------

MANIFEST_KEYS = ("round", "frontier", "selected", "fetched_ok", "deferred",
                 "new_links", "next_frontier", "cum_admitted",
                 "cum_admitted_next", "blocked", "abandoned", "cache_hits")


def manifest_problems(manifests: list[dict]) -> list[str]:
    bad = []
    for i, m in enumerate(manifests):
        r = m["round"]
        if m["next_frontier"] != m["new_links"] + m["deferred"]:
            bad.append(f"round {r}: next_frontier != new_links + deferred")
        if m["cum_admitted_next"] != m["cum_admitted"] + m["new_links"]:
            bad.append(f"round {r}: cum_admitted_next != cum_admitted + new_links")
        if m["frontier"] != (m["selected"] + m["deferred"] + m["blocked"]
                             + m["abandoned"] + m["cache_hits"]):
            bad.append(f"round {r}: frontier rows are not selected + deferred")
        if m["fetched_ok"] != m["selected"]:
            bad.append(f"round {r}: {m['selected'] - m['fetched_ok']} selected urls not fetched")
        if i and m["frontier"] != manifests[i - 1]["next_frontier"]:
            bad.append(f"round {r}: frontier != previous next_frontier")
    return bad


def bfs_depths(starts: list[str], docs, max_depth: int) -> dict[str, int]:
    """Shortest link depth of every synth page reachable from ``starts``
    within ``max_depth``, from the corpus's arithmetic link graph."""
    from crawl4ai_spark.synth import outlink_targets, page_url

    n = len(docs)
    url_of = [page_url(int(d), lang) for d, lang in zip(docs["doc_id"], docs["lang"])]
    doc_of = {u: i for i, u in enumerate(url_of)}
    depth = {u: 0 for u in starts}
    layer = list(starts)
    for d in range(1, max_depth + 1):
        nxt = []
        for u in layer:
            for t in outlink_targets(doc_of[u], n):
                v = url_of[t]
                if v not in depth:
                    depth[v] = d
                    nxt.append(v)
        layer = nxt
    return depth
