"""Content filters: Pruning + BM25 fit-content selection (SURVEY.md §2.9).

Reference algorithms reproduced from
/root/reference/crawl4ai/content_filter_strategy.py:
- PruningContentFilter (:533-777): recursive top-down prune with the
  composite score 0.4*text_density + 0.2*(1-link_density) +
  0.2*tag_weight + 0.1*class_id_weight + 0.1*ln(text_len+1); fixed
  threshold 0.48 or the dynamic tag-importance/text-ratio/link-ratio
  modifiers; min_word_threshold => score -1 (guaranteed removal).
- BM25ContentFilter (:381-530): page query from title/h1/meta (fallback
  first >150-char paragraph), ordered block-walk chunk extraction
  (:161-271), clean_tokens stop-word removal (utils.py:2405-2607),
  BM25Okapi scoring x priority-tag weights, threshold, re-sort to
  document order, clean_element serialization (:329-377).

Stemming: the reference's default BM25 pipeline Snowball-stems tokens
(content_filter_strategy.py:23,408 ``use_stemming: bool = True``,
stemWord per word before clean_tokens at :485-504); ``use_stemming``
defaults to True here too, backed by the from-spec Porter2
implementation in functions/stemmer.py.

Spark surface: ``fit_markdown_stage`` — one Arrow-batched mapInPandas
appending fit_html + fit_markdown (the reference wraps surviving blocks
in <div> and re-runs the markdown converter —
markdown_generation_strategy.py:236-242).
"""

from __future__ import annotations

import math
import re

from .scrape import (
    _Node,
    _text_content,
    _text_strip,
    _walk,
    outer_html,
    outer_html_lengths,
    parse_dom,
)

EXCLUDED_TAGS = {
    "nav", "footer", "header", "aside", "script", "style", "form",
    "iframe", "noscript",
}
NEGATIVE_RX = re.compile(
    r"nav|footer|header|sidebar|ads|comment|promo|advert|social|share", re.I
)

TAG_IMPORTANCE = {
    "article": 1.5, "main": 1.4, "section": 1.3, "p": 1.2, "h1": 1.4,
    "h2": 1.3, "h3": 1.2, "div": 0.7, "span": 0.6,
}
TAG_WEIGHTS = {
    "div": 0.5, "p": 1.0, "article": 1.5, "section": 1.0, "span": 0.3,
    "li": 0.5, "ul": 0.5, "ol": 0.5, "h1": 1.2, "h2": 1.1, "h3": 1.0,
    "h4": 0.9, "h5": 0.8, "h6": 0.7,
}
METRIC_WEIGHTS = {
    "text_density": 0.4, "link_density": 0.2, "tag_weight": 0.2,
    "class_id_weight": 0.1, "text_length": 0.1,
}

PRIORITY_TAGS = {
    "h1": 5.0, "h2": 4.0, "h3": 3.0, "title": 4.0, "strong": 2.0,
    "b": 1.5, "em": 1.5, "blockquote": 2.0, "code": 2.0, "pre": 1.5,
    "th": 1.5,
}

INLINE_TAGS = {
    "a", "abbr", "acronym", "b", "bdo", "big", "br", "button", "cite",
    "code", "dfn", "em", "i", "img", "input", "kbd", "label", "map",
    "object", "q", "samp", "script", "select", "small", "span", "strong",
    "sub", "sup", "textarea", "time", "tt", "var",
}
HEADER_TAGS = {"h1", "h2", "h3", "h4", "h5", "h6", "header"}

# token noise/stop-word data (utils.py:2422-2597 — factual word lists)
NOISE = {
    'a', 'an', 'at', 'by', 'ccp', 'in', 'of', 'on', 'the', 'to', 'up', '↑',
    '▲', '⬆️',
}
STOP_WORDS = {
    'a', 'about', 'above', 'across', 'after', 'against', 'all', 'along',
    'although', 'am', 'among', 'an', 'and', 'any', 'are', 'around', 'as',
    'at', 'be', 'because', 'been', 'before', 'behind', 'being', 'below',
    'beneath', 'beside', 'between', 'beyond', 'both', 'but', 'by', 'can',
    "can't", 'cannot', 'could', "couldn't", 'did', 'do', 'does', 'doing',
    'down', 'during', 'each', 'except', 'few', 'for', 'from', 'had', 'has',
    'have', 'having', 'he', 'her', 'hers', 'herself', 'him', 'himself',
    'his', 'how', 'i', 'in', 'inside', 'into', 'is', 'it', 'its', 'itself',
    'may', 'me', 'might', 'mine', 'more', 'most', 'must', "mustn't", 'my',
    'myself', "n't", 'near', 'no', 'none', 'nor', 'not', 'of', 'off', 'on',
    'or', 'other', 'our', 'ours', 'ourselves', 'out', 'outside', 'over',
    'past', 'shall', 'she', 'should', "shouldn't", 'since', 'so', 'some',
    'such', 'that', 'the', 'their', 'theirs', 'them', 'themselves',
    'these', 'they', 'this', 'those', 'through', 'to', 'toward', 'under',
    'underneath', 'unless', 'until', 'up', 'upon', 'us', 'was', 'we',
    'were', 'what', 'when', 'where', 'which', 'who', 'whom', 'whose',
    'why', 'will', 'with', 'within', "won't", 'would', "wouldn't", 'yet',
    'you', 'your', 'yours', 'yourself',
}


def clean_tokens(tokens: list[str]) -> list[str]:
    """utils.py:2599-2607 — len>2, not noise/stop, no arrow prefixes."""
    return [
        t
        for t in tokens
        if len(t) > 2
        and t not in NOISE
        and t not in STOP_WORDS
        and not t.startswith("\u2191")
        and not t.startswith("\u25b2")
        and not t.startswith("\u2b06")
    ]


def _find_body(root: _Node) -> _Node:
    for n in _walk(root):
        if n.tag == "body":
            return n
    body = _Node("body")
    body.children = list(root.children)
    return body


def _remove_tags(node: _Node, tags: set[str]) -> None:
    # filtering the held node's children steers the walk (see _walk)
    for n in _walk(node):
        if n.children:
            n.children = [c for c in n.children if c.tag not in tags]


# ---------------------------------------------------------------------------
# PruningContentFilter
# ---------------------------------------------------------------------------


def _composite_score(node: _Node, text_len: int, tag_len: int,
                     link_text_len: int, min_word_threshold: int | None,
                     word_count: int) -> float:
    if min_word_threshold:
        if word_count < min_word_threshold:
            return -1.0
    score, total_weight = 0.0, 0.0
    density = text_len / tag_len if tag_len > 0 else 0
    score += METRIC_WEIGHTS["text_density"] * density
    total_weight += METRIC_WEIGHTS["text_density"]
    density = 1 - (link_text_len / text_len if text_len > 0 else 0)
    score += METRIC_WEIGHTS["link_density"] * density
    total_weight += METRIC_WEIGHTS["link_density"]
    score += METRIC_WEIGHTS["tag_weight"] * TAG_WEIGHTS.get(node.tag, 0.5)
    total_weight += METRIC_WEIGHTS["tag_weight"]
    class_id_score = 0.0
    cls = node.attrs.get("class")
    if cls is not None and NEGATIVE_RX.match(cls):
        class_id_score -= 0.5
    eid = node.attrs.get("id")
    if eid is not None and NEGATIVE_RX.match(eid):
        class_id_score -= 0.5
    score += METRIC_WEIGHTS["class_id_weight"] * max(0.0, class_id_score)
    total_weight += METRIC_WEIGHTS["class_id_weight"]
    score += METRIC_WEIGHTS["text_length"] * math.log(text_len + 1)
    total_weight += METRIC_WEIGHTS["text_length"]
    return score / total_weight if total_weight > 0 else 0.0


def _direct_link_text_len(node: _Node) -> int:
    total = 0
    for c in node.children:
        if c.tag == "a":
            # bs4 a.string: the sole text child, else None
            texts = [g for g in c.children]
            if len(texts) == 1 and texts[0].tag == "":
                total += len(texts[0].attrs.get("text", "").strip())
    return total


def _prune(parent: _Node, node: _Node, threshold: float,
           threshold_type: str, min_word_threshold: int | None) -> None:
    """Top-down: score each element on its whole subtree, then remove it
    from its parent or descend into its element children. A node's
    subtree is unmodified when it is scored (removals only cut scored
    nodes' children), so its sizes are summed bottom-up once up front:
    markup length, and the length and spaces of ``_text_strip``'s
    result (stripped runs joined with '')."""
    html_len = outer_html_lengths(node)
    text_len: dict[int, int] = {}
    spaces: dict[int, int] = {}
    for n in reversed(list(_walk(node))):
        if n.tag == "":
            t = n.attrs.get("text", "").strip()
            text_len[id(n)], spaces[id(n)] = len(t), t.count(" ")
        else:
            text_len[id(n)] = sum(text_len[id(c)] for c in n.children)
            spaces[id(n)] = sum(spaces[id(c)] for c in n.children)
    stack = [(parent, node)]
    while stack:
        parent, node = stack.pop()
        tlen = text_len[id(node)]
        tag_len = sum(html_len[id(c)] for c in node.children)
        link_text_len = _direct_link_text_len(node)
        score = _composite_score(
            node, tlen, tag_len, link_text_len, min_word_threshold,
            spaces[id(node)] + 1,
        )
        if threshold_type == "fixed":
            should_remove = score < threshold
        else:
            tag_importance = TAG_IMPORTANCE.get(node.tag, 0.7)
            text_ratio = tlen / tag_len if tag_len > 0 else 0
            link_ratio = link_text_len / tlen if tlen > 0 else 1
            th = threshold
            if tag_importance > 1:
                th *= 0.8
            if text_ratio > 0.4:
                th *= 0.9
            if link_ratio > 0.6:
                th *= 1.2
            should_remove = score < th
        if should_remove:
            parent.children.remove(node)
        else:
            stack.extend(
                (node, c) for c in reversed(node.children) if c.tag != ""
            )


def prune_filter_blocks(
    html: str | None,
    *,
    threshold: float = 0.48,
    threshold_type: str = "fixed",
    min_word_threshold: int | None = None,
) -> list[str]:
    """PruningContentFilter.filter_content — surviving top-level blocks."""
    if not html or not isinstance(html, str):
        return []
    root = parse_dom(html)
    body = _find_body(root)
    _remove_tags(body, EXCLUDED_TAGS)
    # prune body's element children (scoring the body node itself, as
    # the reference does, would erase everything for small fragments;
    # the reference's body score passes because bs4 serializes a large
    # inner html — behavior pinned by the ported reference tests)
    holder = _Node("#holder")
    holder.children = [body]
    _prune(holder, body, threshold, threshold_type, min_word_threshold)
    if not holder.children:
        return []
    blocks = []
    for el in body.children:
        if el.tag == "":
            continue
        if len(_text_strip(el)) > 0:
            blocks.append(outer_html(el))
    return blocks


# ---------------------------------------------------------------------------
# BM25ContentFilter
# ---------------------------------------------------------------------------


class _BM25Okapi:
    """Pure-python BM25 (rank_bm25.BM25Okapi semantics: k1=1.5, b=0.75,
    epsilon=0.25 negative-idf flooring)."""

    def __init__(self, corpus: list[list[str]], k1=1.5, b=0.75, epsilon=0.25):
        self.k1, self.b = k1, b
        self.corpus_size = len(corpus)
        self.doc_len = [len(d) for d in corpus]
        self.avgdl = sum(self.doc_len) / self.corpus_size if corpus else 0
        self.doc_freqs: list[dict[str, int]] = []
        df: dict[str, int] = {}
        for doc in corpus:
            freq: dict[str, int] = {}
            for t in doc:
                freq[t] = freq.get(t, 0) + 1
            self.doc_freqs.append(freq)
            for t in freq:
                df[t] = df.get(t, 0) + 1
        self.idf: dict[str, float] = {}
        negative = []
        idf_sum = 0.0
        for t, f in df.items():
            idf = math.log(self.corpus_size - f + 0.5) - math.log(f + 0.5)
            self.idf[t] = idf
            idf_sum += idf
            if idf < 0:
                negative.append(t)
        avg_idf = idf_sum / len(self.idf) if self.idf else 0.0
        eps = epsilon * avg_idf
        for t in negative:
            self.idf[t] = eps

    def get_scores(self, query: list[str]) -> list[float]:
        scores = [0.0] * self.corpus_size
        for t in query:
            idf = self.idf.get(t)
            if idf is None:
                continue
            for i, freqs in enumerate(self.doc_freqs):
                f = freqs.get(t, 0)
                denom = f + self.k1 * (
                    1 - self.b + self.b * self.doc_len[i] / self.avgdl
                )
                scores[i] += idf * (f * (self.k1 + 1) / denom) if denom else 0.0
        return scores


def extract_page_query(root: _Node, body: _Node,
                       user_query: str | None = None) -> str:
    """RelevantContentFilter.extract_page_query (:125-161)."""
    if user_query:
        return user_query
    parts: list[str] = []
    title = next((n for n in _walk(root) if n.tag == "title"), None)
    if title is not None:
        t = _text_content(title)
        if t:
            parts.append(t)
    h1 = next((n for n in _walk(root) if n.tag == "h1"), None)
    if h1 is not None:
        parts.append(_text_content(h1))
    temp = ""
    for meta_name in ("keywords", "description"):
        meta = next(
            (
                n
                for n in _walk(root)
                if n.tag == "meta" and n.attrs.get("name") == meta_name
            ),
            None,
        )
        if meta is not None and meta.attrs.get("content"):
            parts.append(meta.attrs["content"])
            temp += meta.attrs["content"]
    if not temp:
        for p in (n for n in _walk(body) if n.tag == "p"):
            t = _text_content(p)
            if len(t) > 150:
                parts.append(t[:150])
                break
    return " ".join(p for p in parts if p)


def extract_text_chunks(body: _Node, min_word_threshold: int | None = None):
    """Ordered block-walk chunk extraction (:161-271): text accumulates
    until a non-inline element closes; header vs content tagging."""
    chunks = []
    current_text: list[str] = []
    chunk_index = 0
    stack: list[tuple[_Node, bool]] = [(body, False)]
    while stack:
        element, visited = stack.pop()
        if visited:
            if current_text and element.tag not in INLINE_TAGS:
                text = " ".join("".join(current_text).split())
                if text:
                    tag_type = "header" if element.tag in HEADER_TAGS else "content"
                    chunks.append((chunk_index, text, tag_type, element))
                    chunk_index += 1
                current_text = []
            continue
        if element.tag == "":
            s = element.attrs.get("text", "")
            if s.strip():
                current_text.append(s.strip())
            continue
        children = list(element.children)
        if not children:
            continue
        stack.append((element, True))
        for child in reversed(children):
            stack.append((child, False))
    if current_text:
        text = " ".join("".join(current_text).split())
        if text:
            chunks.append((chunk_index, text, "content", body))
    if min_word_threshold:
        chunks = [c for c in chunks if len(c[1].split()) >= min_word_threshold]
    return chunks


_CLEAN_UNWANTED_TAGS = {"script", "style", "aside", "form", "iframe", "noscript"}
_CLEAN_UNWANTED_ATTRS = {"style", "onclick", "onmouseover", "align", "bgcolor",
                         "class", "id"}


def clean_element(node: _Node) -> str:
    """clean_element (:329-377): re-serialize minus unwanted tags/attrs,
    text nodes stripped, every element closed (void ones too).
    Iterative: strings on the stack are pending end tags."""
    out: list[str] = []
    stack: list = [node]
    while stack:
        n = stack.pop()
        if isinstance(n, str):
            out.append(n)
            continue
        if n.tag == "":
            out.append(n.attrs.get("text", "").strip())
            continue
        if n.tag in _CLEAN_UNWANTED_TAGS:
            continue
        out.append(f"<{n.tag}")
        for k, v in n.attrs.items():
            if k not in _CLEAN_UNWANTED_ATTRS and v is not None:
                out.append(f' {k}="{v}"')
        out.append(">")
        stack.append(f"</{n.tag}>")
        stack.extend(reversed(n.children))
    return "".join(out)


def bm25_filter_blocks(
    html: str | None,
    *,
    user_query: str | None = None,
    bm25_threshold: float = 1.0,
    min_word_threshold: int | None = None,
    use_stemming: bool = True,
) -> list[str]:
    """BM25ContentFilter.filter_content — blocks >= threshold, document
    order, cleaned serialization. Stems before stop-word cleaning, the
    reference's order (content_filter_strategy.py:485-504)."""
    if not html or not isinstance(html, str):
        return []
    root = parse_dom(html)
    body = _find_body(root)
    query = extract_page_query(root, body, user_query)
    if not query:
        return []
    candidates = extract_text_chunks(body, min_word_threshold)
    if not candidates:
        return []
    tokenized_corpus = [c[1].lower().split() for c in candidates]
    tokenized_query = query.lower().split()
    if use_stemming:
        from .stemmer import stem_words

        tokenized_corpus = [stem_words(t) for t in tokenized_corpus]
        tokenized_query = stem_words(tokenized_query)
    tokenized_corpus = [clean_tokens(t) for t in tokenized_corpus]
    tokenized_query = clean_tokens(tokenized_query)
    bm25 = _BM25Okapi(tokenized_corpus)
    scores = bm25.get_scores(tokenized_query)
    selected = [
        (index, chunk, tag)
        for score, (index, chunk, _type, tag) in zip(scores, candidates)
        if score * PRIORITY_TAGS.get(tag.tag, 1.0) >= bm25_threshold
    ]
    if not selected:
        return []
    selected.sort(key=lambda x: x[0])
    return [clean_element(tag) for _, _, tag in selected]


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------


def fit_markdown_stage(
    df,
    html_col: str = "cleaned_html",
    url_col: str = "url",
    *,
    filter_type: str = "pruning",
    user_query: str | None = None,
    threshold: float = 0.48,
    threshold_type: str = "fixed",
    bm25_threshold: float = 1.0,
    min_word_threshold: int | None = None,
    use_stemming: bool = True,
):
    """Append fit_html + fit_markdown via one Arrow-batched mapInPandas
    (DefaultMarkdownGenerator fit path: blocks wrapped in <div>, then
    re-converted — markdown_generation_strategy.py:236-242)."""
    from .markdown import html_to_markdown

    in_schema = df.schema
    out_ddl = ", ".join(
        f.name + " " + f.dataType.simpleString() for f in in_schema.fields
    ) + ", fit_html string, fit_markdown string"

    def process(batches):
        import pandas as pd

        for pdf in batches:
            fit_htmls, fit_mds = [], []
            for html, url in zip(pdf[html_col], pdf[url_col]):
                if html is None:
                    fit_htmls.append(None)
                    fit_mds.append(None)
                    continue
                if isinstance(html, (bytes, bytearray)):
                    html = html.decode("utf-8", errors="replace")
                if filter_type == "bm25":
                    blocks = bm25_filter_blocks(
                        html, user_query=user_query,
                        bm25_threshold=bm25_threshold,
                        min_word_threshold=min_word_threshold,
                        use_stemming=use_stemming,
                    )
                else:
                    blocks = prune_filter_blocks(
                        html, threshold=threshold,
                        threshold_type=threshold_type,
                        min_word_threshold=min_word_threshold,
                    )
                fit_html = "\n".join(f"<div>{b}</div>" for b in blocks)
                fit_htmls.append(fit_html)
                fit_mds.append(html_to_markdown(fit_html, url or ""))
            out = pdf.copy()
            out["fit_html"] = fit_htmls
            out["fit_markdown"] = fit_mds
            yield out

    return df.mapInPandas(process, schema=out_ddl)
