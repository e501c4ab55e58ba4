"""The scrape stage: per-page DOM processing inside one vectorized UDF.

Reproduces the semantics of the reference's scraping strategy
(/root/reference/crawl4ai/content_scraping_strategy.py — default lxml
path `LXMLWebScrapingStrategy._scrap` :1566-1864): strip
script/style/link/meta/noscript and comments, remove excluded tags,
harvest + normalize links (internal/external split by base domain,
first-seen dedup per page), harvest images (skip data: URIs), extract
head metadata (title + meta name/property tags), serialize cleaned
HTML, and emit collapsed visible text.

Implementation is a from-scratch stdlib ``html.parser`` DOM (the
container has no lxml/bs4); behavior is pinned by golden tests on the
engine's page corpus rather than by lxml serialization quirks.

Spark shape (SURVEY.md §2.8): one ``mapInPandas`` stage
``scrape(html, url) -> struct(...)`` — Arrow-batched, narrow, no
shuffle; downstream link explosion is a plain ``explode``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from functools import lru_cache
from html import unescape
from html.parser import HTMLParser
from urllib.parse import urljoin, urlparse, urlsplit

from .urls import get_base_domain_py

# removed wholesale, subtree and all (reference :1670-1674, :621-623)
STRIP_TAGS = {"script", "style", "link", "meta", "noscript", "template"}
# default excluded tags (reference config: nav/footer/header excluded in
# "text mode"; default excluded_tags is empty — keep configurable)
DEFAULT_EXCLUDED_TAGS: frozenset[str] = frozenset()

VOID_TAGS = {
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr",
}

_WS_RX = re.compile(r"\s+")

# --- reference config constants (config.py:47-94) -------------------------
# attributes kept by the attribute-strip pass (config.py:50)
IMPORTANT_ATTRS = frozenset({"src", "href", "alt", "title", "width", "height"})
# inline tags flattened to plain-text spans by only_text (config.py:51-73);
# processed in this exact list order, like the reference's tag loop
ONLY_TEXT_ELIGIBLE_TAGS = (
    "b", "i", "u", "span", "del", "ins", "sub", "sup", "strong", "em",
    "code", "kbd", "var", "s", "q", "abbr", "cite", "dfn", "time",
    "small", "mark",
)
# domains folded into exclude_domains by exclude_social_media_links
# (config.py:74-85)
SOCIAL_MEDIA_DOMAINS = (
    "facebook.com", "twitter.com", "x.com", "linkedin.com",
    "instagram.com", "pinterest.com", "tiktok.com", "snapchat.com",
    "reddit.com",
)
# image-usefulness cut (config.py:94); score formula in process_image
IMAGE_SCORE_THRESHOLD = 2
IMAGE_DESCRIPTION_MIN_WORD_THRESHOLD = 1  # config.py:48
# format sniff list (content_scraping_strategy.py:1309): the reference
# iterates a set literal, so ITS detected_format is hash-order-dependent
# when a URL mentions several formats; we fix a deterministic order
IMAGE_FORMATS = ("jpg", "jpeg", "png", "webp", "avif", "gif")
# tags exempt from empty-element pruning
# (content_scraping_strategy.py:1383-1398)
PRUNE_BYPASS_TAGS = frozenset({
    "a", "img", "br", "hr", "input", "meta", "link", "source", "track",
    "wbr", "tr", "td", "th",
})
# base64 data-URI image sources are blanked, not kept
# (content_scraping_strategy.py:1099, 1724-1728)
BASE64_IMG_RX = re.compile(r'data:image/[^;]+;base64,([^"]+)')


@dataclass(frozen=True)
class ScrapeOptions:
    """Scrape-stage content-shaping knobs, mirroring the kwargs of the
    reference's ``LXMLWebScrapingStrategy._scrap``
    (content_scraping_strategy.py:1566-1750) and the fetch-time
    ``css_selector`` projection (async_crawler_strategy.py:1022-1045).

    Defaults preserve this engine's established output byte-for-byte
    (every knob off). Documented divergences from the reference, chosen
    deliberately:

    - the reference's lxml ``remove()`` drops the removed element's
      TAIL text; our removals mirror that for the knob-driven removal
      paths (excluded_selector / prune / exclusions) via ``drop_tail``,
      but the always-on script/style strip stays serialization-time
      (tail kept — strictly more content-preserving);
    - ``target_elements`` in the reference deep-copies the matched
      subtrees BEFORE the script-strip / only_text / prune / attr-strip
      passes, so those never apply inside targeted content; we apply
      every pass uniformly to the tree and serialize the selected
      subtrees afterwards (cleaner output, one tree);
    - the lxml strategy hard-codes the empty-element prune threshold to
      1 and ignores ``word_count_threshold`` (:1731); we honor the knob
      (``None`` = off, ``1`` = reference-default behavior);
    - attribute stripping always runs in the reference (:1734-1736);
      ours is opt-in (``strip_attrs``) so default cleaned_html keeps
      the engine's established shape;
    - ``exclude_domains`` entries are lowercased before matching: base
      domains are always emitted lowercase, so the reference's exact
      string compare (:676) silently never matches a mixed-case config
      entry — a footgun, not a feature — and the crawl-level
      ``CrawlConfig.exclude_domains`` frontier filter already
      lowercases, so both exclusion layers here agree on any casing;
    - ``flatten_nested`` mirrors the BS4 strategy's always-on
      ``flatten_nested_elements(body)`` (:1043); the lxml strategy
      DEFINES the pass (:1258-1269) but its ``_scrap`` never calls it,
      so it is opt-in here (off = lxml default-path parity).
    """

    excluded_tags: frozenset[str] = DEFAULT_EXCLUDED_TAGS
    excluded_selector: str = ""
    css_selector: str = ""
    target_elements: tuple[str, ...] = ()
    word_count_threshold: int | None = None
    only_text: bool = False
    remove_forms: bool = False
    strip_attrs: bool = False
    keep_data_attributes: bool = False
    exclude_all_images: bool = False
    exclude_external_images: bool = False
    exclude_external_links: bool = False
    exclude_domains: frozenset[str] = frozenset()
    exclude_social_media_links: bool = False
    flatten_nested: bool = False
    media: bool = False
    image_score_threshold: int = IMAGE_SCORE_THRESHOLD
    image_description_min_word_threshold: int = (
        IMAGE_DESCRIPTION_MIN_WORD_THRESHOLD
    )

    def effective_exclude_domains(self) -> frozenset[str]:
        """exclude_domains lowercased (base domains compare lowercase;
        see the class docstring divergence note), with the social-media
        list folded in when exclude_social_media_links is set
        (reference :1682-1689)."""
        domains = frozenset(d.lower() for d in self.exclude_domains)
        if self.exclude_social_media_links:
            return domains | frozenset(SOCIAL_MEDIA_DOMAINS)
        return domains


DEFAULT_OPTS = ScrapeOptions()


class _Node:
    __slots__ = ("tag", "attrs", "children")

    def __init__(self, tag: str, attrs: dict | None = None):
        self.tag = tag  # "" for text nodes (payload in attrs["text"])
        self.attrs = attrs or {}
        self.children: list[_Node] = []


class TolerantMarkupMixin:
    """Malformed-markup tolerance for HTMLParser subclasses.

    Mirrors the reference's recovering lxml parser
    (content_scraping_strategy.py:1055-1087): the stdlib
    ``_markupbase`` machinery raises a raw ``AssertionError`` on
    garbage marked sections such as ``'<![<'``; degrade those to a
    skipped span instead of letting the exception kill the Arrow
    batch. Shared by the DOM builder here and markdown.py's emitter.
    """

    def parse_marked_section(self, i, report=1):
        try:
            return super().parse_marked_section(i, report)
        except Exception:
            # malformed <![ ... — consume to the closing ]> (or to EOF)
            rawdata = self.rawdata
            j = rawdata.find("]>", i)
            return len(rawdata) if j < 0 else j + 2


class _DomBuilder(TolerantMarkupMixin, HTMLParser):
    """Minimal tolerant DOM builder (stdlib-only).

    Contiguous character data merges into ONE text node, so a text
    node is exactly an lxml text/tail run. Comments / PIs / decls are
    not kept as nodes (divergence: the reference's lxml tree keeps
    comments unless ``remove_comments`` prunes them), but they mark
    the FOLLOWING text node with the ``_ab`` (after-barrier) attr —
    in lxml that text is the comment's tail, not the preceding
    element's, so element removal must not take it (see
    ``_remove_node``)."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = _Node("#root")
        self.stack = [self.root]
        self._barrier = False

    def handle_starttag(self, tag, attrs):
        node = _Node(tag, dict(attrs))
        self.stack[-1].children.append(node)
        self._barrier = False
        if tag not in VOID_TAGS:
            self.stack.append(node)

    def handle_startendtag(self, tag, attrs):
        self.stack[-1].children.append(_Node(tag, dict(attrs)))
        self._barrier = False

    def handle_endtag(self, tag):
        # close the nearest matching open tag (tolerant of misnesting)
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                break
        self._barrier = False

    def handle_data(self, data):
        if not data:
            return
        kids = self.stack[-1].children
        if self._barrier:
            kids.append(_Node("", {"text": data, "_ab": "1"}))
            self._barrier = False
        elif kids and kids[-1].tag == "":
            kids[-1].attrs["text"] += data
        else:
            kids.append(_Node("", {"text": data}))

    def handle_comment(self, data):
        self._barrier = True

    def handle_decl(self, decl):
        self._barrier = True

    def handle_pi(self, data):
        self._barrier = True

    def unknown_decl(self, data):
        self._barrier = True


def parse_dom(html: str) -> _Node:
    """Parse markup into a tolerant DOM; never raises.

    On a catastrophic parser failure the returned root carries
    ``attrs["parse_error"]`` and holds only an error ``<div>``, mirroring
    the reference's ``crawl4ai_error_message`` fallback
    (content_scraping_strategy.py:1828-1864) — downstream extraction
    sees an empty-but-valid DOM instead of an exception.
    """
    b = _DomBuilder()
    try:
        b.feed(html or "")
        b.close()
        return b.root
    except Exception as exc:  # incl. AssertionError from _markupbase
        root = _Node("#root", {"parse_error": "1"})
        div = _Node("div", {"class": "crawl4ai-error"})
        div.children.append(
            _Node("", {"text": f"Parse error: {type(exc).__name__}"})
        )
        root.children.append(div)
        return root


# ---------------------------------------------------------------------------
# extraction passes
# ---------------------------------------------------------------------------


def _walk(node: _Node):
    """Every node under ``node`` (itself first, text nodes included) in
    document preorder, the recursive order, iteratively: page depth is
    attacker-controlled.

    A node's children are read only when the consumer resumes the walk
    after receiving it, so a consumer may replace ``n.children`` while
    it holds ``n`` and the walk descends into the new list (the
    tag-removal and fit_html passes filter this way)."""
    # recursive `yield from` makes every yielded node climb the whole
    # generator chain (O(depth) per node); an explicit stack yields
    # each node once
    stack = [node]
    pop = stack.pop
    while stack:
        n = pop()
        yield n
        children = n.children
        if children:
            stack.extend(reversed(children))


def _visible_text(node: _Node, out: list[str]) -> None:
    # iterative: page depth is attacker-controlled (html.parser nests
    # unclosed tags), and a RecursionError would kill the Arrow batch
    stack = [node]
    pop = stack.pop
    while stack:
        n = pop()
        if n.tag in STRIP_TAGS:
            continue
        if n.tag == "":
            out.append(n.attrs.get("text", ""))
            continue
        if n.children:
            stack.extend(reversed(n.children))


def extract_metadata(root: _Node) -> dict:
    """title + meta tags -> flat dict (reference utils.py:1562-1642)."""
    meta: dict[str, str] = {}
    title = None
    for n in _walk(root):
        if n.tag == "title" and title is None:
            parts: list[str] = []
            for c in n.children:
                if c.tag == "":
                    parts.append(c.attrs.get("text", ""))
            title = "".join(parts).strip()
        elif n.tag == "meta":
            key = n.attrs.get("name") or n.attrs.get("property")
            content = n.attrs.get("content")
            if key and content is not None and key not in meta:
                meta[key] = content
    if title is not None:
        meta["title"] = title
    return meta


_DOT_SEGMENTS = frozenset((".", ".."))


@lru_cache(maxsize=64)
def _origin(base: str) -> str | None:
    """``scheme://netloc`` of an http(s) base with a host, as urljoin
    rebuilds it (lowercased scheme, netloc verbatim); None otherwise."""
    try:
        s = urlsplit(base)
    except ValueError:  # e.g. an unbalanced '[' in the netloc
        return None
    if s.scheme in ("http", "https") and s.netloc:
        return s.scheme + "://" + s.netloc
    return None


def _abs_url(base: str, href: str) -> str:
    """urljoin with two validated fast paths, each returning what
    urljoin would (fuzz-pinned by ``test_abs_url_matches_urljoin``):

    - an absolute lowercase ``http(s)://`` href with a nonempty
      authority and no query/fragment is returned as it is: cross-scheme
      urljoin returns it verbatim, and same-scheme urlunparse∘urlparse is
      the identity on this shape (the '#'/'?' guard excludes the
      empty-fragment/query normalization, the authority guard
      ``http://``);
    - a root-relative href against an http(s) base with a host is the
      base's ``scheme://netloc`` (cached per base) plus the href,
      provided urljoin would leave the href alone: no '#', no empty
      query ('/p?' loses its '?'), and in the path before '?' no ';'
      (urlparse splits params off the last segment and drops an empty
      one), no '//' (which also keeps out '//host' hrefs) and no
      '.'/'..' segment (the segment walk resolves them).

    Both guards send hrefs holding tab/newline/CR to urljoin: urlsplit
    strips them (WHATWG, bpo-43882). On ``extract_web`` pages every href
    is root-relative; there urljoin was about half of ``extract_links``."""
    if "\t" in href or "\n" in href or "\r" in href or "#" in href:
        return urljoin(base, href)
    if href.startswith(("https://", "http://")):
        if "?" not in href:
            rest = href[href.index("://") + 3:]
            if rest and rest[0] not in "/?#":
                return href
    elif href[:1] == "/":
        origin = _origin(base)
        path, q, query = href.partition("?")
        if (
            origin is not None
            and (query or not q)
            and ";" not in path
            and "//" not in path
            and ("/." not in path or not _DOT_SEGMENTS.intersection(path.split("/")))
        ):
            return origin + href
    return urljoin(base, href)


def extract_links(root: _Node, page_url: str) -> list[dict]:
    """Harvest <a href> with first-seen dedup per normalized href
    (reference content_scraping_strategy.py:1119-1172, 683-691)."""
    base_dom = get_base_domain_py(page_url)
    seen: set[str] = set()
    links: list[dict] = []
    for n in _walk(root):
        if n.tag != "a":
            continue
        href = n.attrs.get("href")
        if not href or href.startswith(("javascript:", "#")):
            continue
        abs_url = _abs_url(page_url, href.strip())
        if abs_url in seen:
            continue
        seen.add(abs_url)
        text_parts: list[str] = []
        _visible_text(n, text_parts)
        link_dom = get_base_domain_py(abs_url)
        links.append(
            {
                "href": abs_url,
                "text": _WS_RX.sub(" ", "".join(text_parts)).strip(),
                "title": n.attrs.get("title") or "",
                "base_domain": link_dom,
                "is_internal": bool(link_dom) and link_dom == base_dom,
            }
        )
    return links


def extract_images(root: _Node, page_url: str) -> list[dict]:
    """Harvest <img> (skip data: URIs — reference :1725-1728)."""
    seen: set[str] = set()
    images: list[dict] = []
    for n in _walk(root):
        if n.tag != "img":
            continue
        src = n.attrs.get("src")
        if not src or src.startswith("data:"):
            continue
        abs_src = _abs_url(page_url, src.strip())
        if abs_src in seen:
            continue
        seen.add(abs_src)
        images.append({"src": abs_src, "alt": n.attrs.get("alt") or ""})
    return images


# ---------------------------------------------------------------------------
# knob-driven DOM transforms + scored media harvest (reference
# content_scraping_strategy.py:1095-1452, 1566-1750)
# ---------------------------------------------------------------------------


def _parent_map(root: _Node) -> dict[int, _Node]:
    """id(node) -> parent for every node reachable from root."""
    parents: dict[int, _Node] = {}
    stack = [root]
    while stack:
        n = stack.pop()
        for c in n.children:
            parents[id(c)] = n
            if c.children:
                stack.append(c)
    return parents


def _remove_node(
    parents: dict[int, _Node], node: _Node, drop_tail: bool = True
) -> None:
    """Remove ``node`` from its parent. ``drop_tail=True`` also drops
    the immediately-following contiguous text run — lxml's
    ``parent.remove(el)`` discards exactly ``el.tail``, the removal
    primitive the reference uses throughout its scrape stage. Text
    separated from the element by a comment/PI (``_ab``-marked nodes)
    is that comment's tail in lxml and survives the removal."""
    parent = parents.get(id(node))
    if parent is None:
        return
    kids = parent.children
    for i, c in enumerate(kids):
        if c is node:
            j = i + 1
            if (
                drop_tail
                and j < len(kids)
                and kids[j].tag == ""
                and "_ab" not in kids[j].attrs
            ):
                j += 1
            del kids[i:j]
            return


def _text_content(node: _Node) -> str:
    """lxml ``text_content()`` parity: ALL descendant text, including
    script/style (unlike ``_visible_text``)."""
    out: list[str] = []
    for n in _walk(node):
        if n.tag == "":
            out.append(n.attrs.get("text", ""))
    return "".join(out)


def _text_strip(node: _Node) -> str:
    """bs4 ``get_text(strip=True)``: every descendant text run stripped,
    the non-empty ones joined with ''."""
    out: list[str] = []
    for n in _walk(node):
        if n.tag == "":
            t = n.attrs.get("text", "").strip()
            if t:
                out.append(t)
    return "".join(out)


def _has_direct_text(node: _Node) -> bool:
    """lxml ``element.text`` truthiness: text (even whitespace) directly
    after the opening tag, before any child element."""
    return bool(
        node.children
        and node.children[0].tag == ""
        and node.children[0].attrs.get("text")
    )


def _is_external_url_py(url: str, base_domain: str) -> bool:
    """Mirror of reference utils.py:2371-2402 ``is_external_url`` (the
    endswith/`www.`-stripped compare used for image/media exclusion —
    distinct from the authority-exact ``is_external`` of the link
    layer)."""
    special = ("mailto:", "tel:", "ftp:", "file:", "data:", "javascript:")
    if url.lower().startswith(special):
        return True
    try:
        parsed = urlparse(url)
        if not parsed.netloc:
            return False
        url_domain = parsed.netloc.lower().replace("www.", "")
        base = (base_domain or "").lower().replace("www.", "")
        return not url_domain.endswith(base)
    except Exception:
        return False


def find_closest_parent_with_useful_text(
    node: _Node,
    parents: dict[int, _Node],
    min_words: int = IMAGE_DESCRIPTION_MIN_WORD_THRESHOLD,
) -> str | None:
    """Walk up from ``node`` to the first ancestor that has direct text
    and whose full text content reaches ``min_words`` words
    (content_scraping_strategy.py:1241-1256)."""
    current: _Node | None = node
    while current is not None and current.tag != "#root":
        if (
            _has_direct_text(current)
            and len(_text_content(current).split()) >= min_words
        ):
            return _text_content(current).strip()
        current = parents.get(id(current))
    return None


def process_image(
    img: _Node,
    parents: dict[int, _Node],
    index: int,
    total_images: int,
    opts: ScrapeOptions = DEFAULT_OPTS,
) -> list[dict] | None:
    """Usefulness-scored image variant expansion — exact mirror of the
    reference's ``process_image`` (content_scraping_strategy.py:
    1271-1376): icon/button/logo heuristics, the 6-signal point score,
    the ``image_score_threshold`` cut, then variants from src /
    data-src / srcset / data-srcset / ancestor ``<picture>`` sources /
    framework ``data-*src*`` attributes (srcs kept RAW, as the
    reference does — no normalization)."""
    from .html_tools import parse_srcset

    a = img.attrs
    style = a.get("style") or ""
    alt = a.get("alt") or ""
    src = a.get("src") or ""
    data_src = a.get("data-src") or ""
    srcset = a.get("srcset") or ""
    data_srcset = a.get("data-srcset") or ""

    if "display:none" in style:
        return None
    parent = parents.get(id(img))
    if parent is not None and parent.tag in ("button", "input"):
        return None
    parent_classes = (parent.attrs.get("class") or "").split() if parent else []
    if any(
        "button" in cls or "icon" in cls or "logo" in cls
        for cls in parent_classes
    ):
        return None
    if (src and any(c in src for c in ("button", "icon", "logo"))) or (
        alt and any(c in alt for c in ("button", "icon", "logo"))
    ):
        return None

    score = 0
    width = a.get("width")
    if width and width.isdigit():
        score += 1 if int(width) > 150 else 0
    height = a.get("height")
    if height and height.isdigit():
        score += 1 if int(height) > 150 else 0
    if alt:
        score += 1
    score += index / total_images < 0.5

    detected_format = None
    for u in (src, data_src, srcset, data_srcset):
        if u:
            low = u.lower()
            matches = [fmt for fmt in IMAGE_FORMATS if fmt in low]
            if matches:
                detected_format = matches[0]
                score += 1
                break

    if srcset or data_srcset:
        score += 1

    picture: _Node | None = None
    anc = parents.get(id(img))
    while anc is not None and anc.tag != "#root":
        if anc.tag == "picture":
            picture = anc
            break
        anc = parents.get(id(anc))
    if picture is not None:
        score += 1

    if score <= opts.image_score_threshold:
        return None

    unique_urls: set[str] = set()
    variants: list[dict] = []
    base_info = {
        "alt": alt,
        "desc": find_closest_parent_with_useful_text(
            img, parents, opts.image_description_min_word_threshold
        ),
        "score": int(score),
        "type": "image",
        "group_id": index,
        "format": detected_format,
    }

    def add_variant(u: str | None, w: str | None = None) -> None:
        if u and not u.startswith("data:") and u not in unique_urls:
            unique_urls.add(u)
            v = dict(base_info)
            v["src"] = u
            v["width"] = w
            variants.append(v)

    add_variant(src)
    add_variant(data_src)
    for srcset_attr in (srcset, data_srcset):
        if srcset_attr:
            for source in parse_srcset(srcset_attr):
                add_variant(source["url"], source["width"])
    if picture is not None:
        for n in _walk(picture):
            if n.tag == "source" and n.attrs.get("srcset"):
                for src_data in parse_srcset(n.attrs["srcset"]):
                    add_variant(src_data["url"], src_data["width"])
    for attr, value in a.items():
        if (
            attr.startswith("data-")
            and ("src" in attr or "srcset" in attr)
            and value
            and "http" in value
        ):
            add_variant(value)

    return variants or None


def extract_media(
    root: _Node,
    parents: dict[int, _Node],
    page_url: str,
    opts: ScrapeOptions = DEFAULT_OPTS,
) -> dict:
    """Scored media harvest (images + videos + audios) mirroring
    ``_process_element``'s media portion (content_scraping_strategy.py:
    1174-1221). Image exclusion (exclude_domains /
    exclude_external_images) REMOVES the element from the tree, as the
    reference does; videos/audios also expand nested ``<source>``
    children, one row per source, sharing the parent's description."""
    base_domain = get_base_domain_py(page_url)
    exclude_domains = opts.effective_exclude_domains()
    media: dict = {"images": [], "videos": [], "audios": []}

    images = [n for n in _walk(root) if n.tag == "img"]
    total = len(images)
    for idx, img in enumerate(images):
        src = img.attrs.get("src") or ""
        img_domain = get_base_domain_py(src)
        if (img_domain and img_domain in exclude_domains) or (
            opts.exclude_external_images
            and _is_external_url_py(src, base_domain)
        ):
            _remove_node(parents, img)
            continue
        variants = process_image(img, parents, idx, total, opts)
        if variants:
            media["images"].extend(variants)

    for media_type in ("video", "audio"):
        for elem in [n for n in _walk(root) if n.tag == media_type]:
            info = {
                "src": elem.attrs.get("src"),
                "alt": elem.attrs.get("alt"),
                "type": media_type,
                "description": find_closest_parent_with_useful_text(
                    elem, parents, opts.image_description_min_word_threshold
                ),
            }
            media[media_type + "s"].append(info)
            for n in _walk(elem):
                if n.tag == "source" and n.attrs.get("src"):
                    media[media_type + "s"].append(
                        {**info, "src": n.attrs["src"]}
                    )
    return media


def _extract_links_ex(
    root: _Node,
    parents: dict[int, _Node],
    page_url: str,
    opts: ScrapeOptions,
) -> list[dict]:
    """extract_links plus the reference's exclusion flags
    (content_scraping_strategy.py:1152-1165): an external link hit by
    ``exclude_external_links`` or whose base domain is in
    ``exclude_domains`` (social-media list folded in) is REMOVED from
    the tree — every occurrence, not just the first — and not
    harvested."""
    base_dom = get_base_domain_py(page_url)
    exclude_domains = opts.effective_exclude_domains()
    seen: set[str] = set()
    links: list[dict] = []
    for n in [x for x in _walk(root) if x.tag == "a"]:
        href = n.attrs.get("href")
        if not href or href.startswith(("javascript:", "#")):
            continue
        abs_url = _abs_url(page_url, href.strip())
        link_dom = get_base_domain_py(abs_url)
        is_internal = bool(link_dom) and link_dom == base_dom
        if not is_internal and (
            opts.exclude_external_links
            or (link_dom and link_dom in exclude_domains)
        ):
            _remove_node(parents, n)
            continue
        if abs_url in seen:
            continue
        seen.add(abs_url)
        text_parts: list[str] = []
        _visible_text(n, text_parts)
        links.append(
            {
                "href": abs_url,
                "text": _WS_RX.sub(" ", "".join(text_parts)).strip(),
                "title": n.attrs.get("title") or "",
                "base_domain": link_dom,
                "is_internal": is_internal,
            }
        )
    return links


def prune_empty_elements(
    root: _Node, parents: dict[int, _Node], word_count_threshold: int = 1
) -> None:
    """Bottom-up removal of childless elements below the word threshold
    (``remove_empty_elements_fast``, content_scraping_strategy.py:
    1378-1415): bypass tags are kept; removing a leaf can cascade into
    its parent because parents are visited after their children."""
    order = [n for n in _walk(root) if n.tag not in ("", "#root")]
    for el in reversed(order):
        if el.tag in PRUNE_BYPASS_TAGS:
            continue
        if any(c.tag != "" for c in el.children):
            continue
        if len(_text_content(el).strip().split()) < word_count_threshold:
            _remove_node(parents, el)


def strip_attributes(
    root: _Node, keep_data_attributes: bool = False
) -> None:
    """Keep only IMPORTANT_ATTRS (+ ``data-*`` when requested) on every
    element (``remove_unwanted_attributes_fast``,
    content_scraping_strategy.py:1417-1452)."""
    for n in _walk(root):
        if n.tag in ("", "#root"):
            continue
        n.attrs = {
            k: v
            for k, v in n.attrs.items()
            if k in IMPORTANT_ATTRS
            or (keep_data_attributes and k.startswith("data-"))
        }


def only_text_transform(root: _Node, parents: dict[int, _Node]) -> None:
    """Replace inline formatting elements that carry direct text with a
    plain ``<span>`` holding their full text content (reference
    :1714-1722), tag by tag in ONLY_TEXT_ELIGIBLE_TAGS order. The
    replacement span keeps the element's position; following text is
    preserved."""
    for tag in ONLY_TEXT_ELIGIBLE_TAGS:
        for el in [n for n in _walk(root) if n.tag == tag]:
            if not _has_direct_text(el):
                continue
            parent = parents.get(id(el))
            if parent is None:
                continue
            span = _Node("span")
            text = _Node("", {"text": _text_content(el)})
            span.children.append(text)
            parents[id(span)] = parent
            parents[id(text)] = span
            for i, c in enumerate(parent.children):
                if c is el:
                    parent.children[i] = span
                    break


def clean_base64_images(root: _Node) -> None:
    """Blank base64 data-URI image srcs (reference :1724-1728): the
    matched ``data:image/...;base64,<payload>`` span is stripped from
    the attribute value."""
    for n in _walk(root):
        if n.tag == "img":
            src = n.attrs.get("src")
            if src and BASE64_IMG_RX.match(src):
                n.attrs["src"] = BASE64_IMG_RX.sub("", src)


def _collapse_chain(node: _Node) -> _Node:
    """Follow a single-same-tag-child chain to its innermost element:
    ``<div><div>x`` -> the inner ``<div>x``. Only collapses when the
    element's ONLY child (text included) is a same-tag element."""
    while (
        node.tag not in ("", "#root")
        and len(node.children) == 1
        and node.children[0].tag == node.tag
    ):
        node = node.children[0]
    return node


def flatten_nested_elements(node: _Node) -> _Node:
    """Collapse chains of single-child same-tag nesting
    (``flatten_nested_elements``, content_scraping_strategy.py:
    1258-1269): ``<div><div>x</div></div>`` -> ``<div>x</div>``,
    applied to every element. Iterative (depth-proof)."""
    root = _collapse_chain(node)
    stack = [root]
    while stack:
        n = stack.pop()
        kids = n.children
        for i, c in enumerate(kids):
            if c.tag not in ("", "#root"):
                flat = _collapse_chain(c)
                if flat is not c:
                    kids[i] = flat
                stack.append(flat)
    return root


def _deep_copy_node(node: _Node) -> _Node:
    """Iterative deep copy of a subtree. Projections must copy their
    matches (the reference serializes-and-reparses / ``copy.deepcopy``s
    them): inserting matched nodes by REFERENCE would alias one object
    into several tree positions — nested matches share descendants, and
    the id-keyed parent map keeps only one parent per object, so later
    removal passes would detach a node from one position while it stays
    serialized via another."""
    dup = _Node(node.tag, dict(node.attrs))
    stack = [(node, dup)]
    while stack:
        src, dst = stack.pop()
        for c in src.children:
            cc = _Node(c.tag, dict(c.attrs))
            dst.children.append(cc)
            if c.children:
                stack.append((c, cc))
    return dup


def project_css_selector(root: _Node, css_selector: str) -> _Node:
    """The fetch-time ``css_selector`` projection
    (async_crawler_strategy.py:1022-1045): split the selector on
    commas, collect each part's matches independently (duplicates
    across parts kept, like repeated ``querySelectorAll`` calls), and
    rebuild the page as ``<div class="crawl4ai-result">`` wrapping
    deep COPIES of the matches (the reference's outerHTML string join
    + reparse yields independent copies) — parts separated by newline
    text nodes. Invalid selector parts contribute nothing (reference
    logs and continues)."""
    from .schema_extract import select_all

    div = _Node("div", {"class": "crawl4ai-result"})
    div.children.append(_Node("", {"text": "\n"}))
    for part in css_selector.split(","):
        part = part.strip()
        if not part:
            continue
        try:
            matches = select_all(root, part)
        except Exception:
            continue
        div.children.extend(_deep_copy_node(m) for m in matches)
        div.children.append(_Node("", {"text": "\n"}))
    new_root = _Node("#root")
    new_root.children.append(div)
    return new_root


def _dom_events(node: _Node, excluded: frozenset[str]) -> list:
    """The cleaned DOM as events in document order, which
    ``_event_html`` serializes into ``cleaned_html``:
    ``("s", tag, attrs, safe)``, ``("e", tag)`` (none for void tags) and
    ``("d", text)``, adjacent text merged into one run and the page's
    ends stripped. ``safe``: no attribute value holds ``&`` (a reparse
    unescapes it again), ``<`` or ``"`` (breaks the quoting), so
    tokenizing the serialized tag yields the event unchanged.
    Iterative (depth-proof): tuples on the stack are pending end tags."""
    out: list = []
    stack: list = [node]
    pop = stack.pop
    while stack:
        n = pop()
        if isinstance(n, tuple):  # pending ("e", tag)
            out.append(n)
            continue
        tag = n.tag
        if tag in STRIP_TAGS or tag in excluded:
            continue
        if tag == "":
            t = n.attrs.get("text", "")
            if not t:
                continue
            if out and out[-1][0] == "d":
                out[-1] = ("d", out[-1][1] + t)
            else:
                out.append(("d", t))
            continue
        if tag != "#root":
            attrs = []
            safe = True
            for k, v in n.attrs.items():
                if v is None:
                    continue
                if "&" in v or "<" in v or '"' in v:
                    safe = False
                attrs.append((k, v))
            out.append(("s", tag, attrs, safe))
            if tag not in VOID_TAGS:
                stack.append(("e", tag))
        if n.children:
            stack.extend(reversed(n.children))
    if out and out[0][0] == "d":
        out[0] = ("d", out[0][1].lstrip())
    if out and out[-1][0] == "d":
        out[-1] = ("d", out[-1][1].rstrip())
    return out


def _event_html(ev: tuple) -> str:
    """The one serialization of a ``_dom_events`` event: raw text,
    ``<tag k="v">`` or ``</tag>``."""
    kind = ev[0]
    if kind == "d":
        return ev[1]
    if kind == "e":
        return f"</{ev[1]}>"
    return f"<{ev[1]}" + "".join(f' {k}="{v}"' for k, v in ev[2]) + ">"


def cleaned_html(root: _Node, excluded: frozenset[str] = DEFAULT_EXCLUDED_TAGS) -> str:
    return "".join(map(_event_html, _dom_events(root, excluded)))


def outer_html(node: _Node) -> str:
    """The subtree as markup: raw text, each tag through ``_event_html``
    (``None``-valued attributes dropped), no end tag for ``VOID_TAGS``,
    ``#root`` transparent. Unlike ``cleaned_html`` it keeps script/style
    and the text at the ends as they are. Iterative (depth-proof):
    tuples on the stack are pending end tags."""
    out: list[str] = []
    stack: list = [node]
    pop = stack.pop
    while stack:
        n = pop()
        if isinstance(n, tuple):  # pending ("e", tag)
            out.append(_event_html(n))
            continue
        tag = n.tag
        if tag == "":
            out.append(n.attrs.get("text", ""))
            continue
        if tag != "#root":
            attrs = [(k, v) for k, v in n.attrs.items() if v is not None]
            out.append(_event_html(("s", tag, attrs)))
            if tag not in VOID_TAGS:
                stack.append(("e", tag))
        if n.children:
            stack.extend(reversed(n.children))
    return "".join(out)


def outer_html_lengths(node: _Node) -> dict[int, int]:
    """``len(outer_html(n))`` for every node ``n`` under ``node``, keyed
    by ``id(n)``, in one pass: reversed preorder visits every child
    before its parent, so each length is its start and end tag plus
    its children's sums. Valid while the subtree is unmodified."""
    lens: dict[int, int] = {}
    for n in reversed(list(_walk(node))):
        tag = n.tag
        if tag == "":
            lens[id(n)] = len(n.attrs.get("text", ""))
            continue
        total = sum(lens[id(c)] for c in n.children)
        if tag != "#root":
            attrs = [(k, v) for k, v in n.attrs.items() if v is not None]
            total += len(_event_html(("s", tag, attrs)))
            if tag not in VOID_TAGS:
                total += len(tag) + 3  # </tag>
        lens[id(n)] = total
    return lens


def markdown_from_dom(
    root: _Node,
    base_url: str = "",
    excluded: frozenset[str] = DEFAULT_EXCLUDED_TAGS,
) -> str:
    """raw_markdown straight off the cleaned DOM, byte-identical to
    ``html_to_markdown(cleaned_html(root), url)`` (the oracle: one
    ``feed()`` of the whole string S, ``feed("")`` and ``close()``,
    three ``goahead`` passes) while tokenizing only the unsafe text runs.

    Walks ``_dom_events`` into one ``_MdState``. An event with no ``&``
    or ``<`` in its text goes straight to its handlers, as the event that
    tokenizing it yields: a tag that is not ``safe`` gets its values
    unescaped, as the tokenizer reads a double-quoted value. That is
    exact while the invariant holds: the oracle's first pass stands at
    this event's offset in S on a token boundary, outside CDATA, having
    made the same handler calls, and nothing is held in ``p.rawdata``.

    An unsafe text run T (holding ``&`` or ``<``) is tokenized together
    with the event A after it (a tag: adjacent text is merged):
    ``p.feed(T + html(A))``, after which direct dispatch resumes if
    ``p.rawdata == ""`` and ``p.cdata_elem is None``. Preconditions:
    A's tag name holds no ``=``, no attribute name of A starts with
    ``=``, and A's values hold no ``"`` and no ``>``; if T holds ``<``,
    T holds no ``"``, ``'`` or ``<!``.

    Why the chunk C = T + html(A) ends where the oracle's first pass
    does. C is a prefix of the rest of S, so a pass over C makes the same
    calls as the oracle's as long as no read goes past C's end; C ends in
    A's closing ``>``, the only ``>`` in html(A). The reads of
    ``HTMLParser.goahead`` (CPython 3.11) and ``_markupbase`` that can go
    past a chunk's end:

    - Quoted attribute values (``locatestarttagend_tolerant``,
      ``attrfind_tolerant``): a quote opens one only right after
      ``=\\s*``. T has no quotes when it can open a tag, so a tag opened
      in T meets quotes only in A. It cannot open one in A's tag name,
      which holds no ``=``; the space after the tag name cannot start a
      ``\\s*=`` as no attribute name starts with ``=``; so it reads A's
      ``k="v"`` pairs aligned, and v closes inside A. Without these two rules a misaligned read can
      open a quote inside a value of A that closes past the chunk, in a
      tag that still ends at A's ``>``, e.g. ``<p =k="a b ='c">`` or a
      tag named ``p="x`` after a run ``<b x``. Every other run in a tag
      stops at A's ``>``.
    - Searches for a terminator (``>`` of end tags, PIs, bogus comments
      and doctypes, ``--\\s*>``, ``]]>``/``]>``, ``</script>``): one
      found in C is found at the same place in S, since the match cannot
      straddle C's final ``>``; one not found returns -1 or waits in
      CDATA, a hold. A value ``>`` in A would end such a construct
      inside A and turn A's tail into text that S continues, so it is
      excluded (``<em>&lt;/b x<textarea title="a>b">...``).
    - Text runs end at the next ``&`` or ``<``, and entity and charref
      names at the next non-name character, at the latest A's ``<``.
      Fed without A, ``AT&Tend.`` reads as ``&Tend;`` + ``.``; in S,
      as ``&Tend.;``.
    - The ``&#`` bail tests ``";" in rawdata[i:]`` and then breaks the
      pass: the oracle would spend one of its three passes there. A
      bail always holds input (at least the ``;`` or the ``&#``), so the
      ``rawdata`` check catches it; three ``&#1a`` bails end the oracle
      at ``close()``.
    - The marked-section fallback of ``TolerantMarkupMixin`` consumes to
      the end of the buffer when no ``]>`` follows; ``<!`` in T excludes
      it.
    - Holds at the end of the buffer (``<`` or ``&`` last, an incomplete
      tag, comment or entity, a declaration's name at the buffer end):
      each breaks the pass with input held, caught by the ``rawdata``
      check. A ``<script``/``<style`` start tag opened in T that
      swallows A leaves CDATA mode on with nothing held, caught by the
      ``cdata_elem`` check (``<p>&lt;style x=</p><body>y</body>``).

    So with the preconditions, a check that passes means C was tokenized
    as in S and the invariant holds after A. Counterexamples to each
    precondition (the output differs from the oracle without it):
    ``<em>&lt;/b x<textarea title="a>b">two words&amp;</textarea></em>``,
    ``<p>&lt;b x =&quot;<i>y</i> z&quot; w</p>`` (and with ``'``),
    ``<p>&lt;![x <i>y</i> ]&gt; z</p><p>w</p>``.

    A run that fails a precondition or is the page's last event, or a
    start tag with ``"`` in a value, ends the loop: the rest of the page
    from there is serialized
    and fed in one ``feed()``, then ``feed("")`` and ``close()``, the
    oracle's passes exactly, as no earlier feed broke a pass. A failed
    check means the chunk may have spent a pass or read past its end: the
    page is made again from a fresh ``_MdState`` without resyncing (direct
    dispatch up to the first unsafe event, then the rest)."""
    return markdown_regime(root, base_url, excluded)[0]


def markdown_regime(
    root: _Node,
    base_url: str = "",
    excluded: frozenset[str] = DEFAULT_EXCLUDED_TAGS,
) -> tuple[str, str]:
    """``markdown_from_dom``'s markdown and the way it was made:
    ``"direct"`` (no unsafe event), ``"resync"`` (every unsafe run
    resynced), ``"rest"`` (the rest of the page fed from a run or tag
    that may not resync) or ``"recompute"`` (a post-feed check failed)."""
    from .markdown import _MdState, _finish

    events = _dom_events(root, excluded)
    n = len(events)
    p = _MdState(base_url=base_url)
    regime = "direct"
    i = 0
    while i < n:
        ev = events[i]
        kind = ev[0]
        if kind == "d":
            t = ev[1]
            if "&" in t or "<" in t:
                if (
                    regime == "recompute"
                    or i + 1 == n
                    or ("<" in t and ('"' in t or "'" in t or "<!" in t))
                ):
                    break
                nxt = events[i + 1]
                if "=" in nxt[1] or (nxt[0] == "s" and any(
                    '"' in v or ">" in v or k[:1] == "=" for k, v in nxt[2]
                )):
                    break
                p.feed(t + _event_html(nxt))
                if p.rawdata or p.cdata_elem is not None:
                    p = _MdState(base_url=base_url)
                    regime = "recompute"
                    i = 0
                    continue
                regime = "resync"
                i += 2
                continue
            p.handle_data(t)
        elif kind == "e":
            p.handle_endtag(ev[1])
        elif ev[3]:
            p.handle_starttag(ev[1], ev[2])
        elif any('"' in v for _, v in ev[2]):
            break
        else:  # the tokenizer reads each quoted value back unescaped
            p.handle_starttag(ev[1], [(k, unescape(v)) for k, v in ev[2]])
        i += 1
    if i < n:
        if regime != "recompute":
            regime = "rest"
        p.feed("".join(map(_event_html, events[i:])))
    p.feed("")
    return _finish(p.result()), regime


def page_text(root: _Node) -> str:
    out: list[str] = []
    _visible_text(root, out)
    return _WS_RX.sub(" ", "".join(out)).strip()


def _failed_result(media: bool = False, want_root: bool = False) -> dict:
    """The error-fallback row shape shared by both scrape paths
    (reference content_scraping_strategy.py:1828-1864). A new
    SCRAPE_FIELDS_DDL column is added HERE plus in the two success
    assemblies — nowhere else."""
    failed: dict = {
        "success": False,
        "title": None,
        "headings": None,
        "meta": {},
        "links": [],
        "images": [],
        "cleaned_html": None,
        "text": None,
    }
    if media:
        failed["media"] = {"images": [], "videos": [], "audios": []}
    if want_root:
        failed["_root"] = None
    return failed


def _parse_ready(html: str | bytes | None) -> _Node | None:
    """Decode bytes and parse; ``None`` marks the page unscrapable
    (missing html, or the parse_dom catastrophic-failure fallback)."""
    if html is None:
        return None
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    root = parse_dom(html)
    if root.attrs.get("parse_error"):
        return None
    return root


def _harvest_headings(root: _Node) -> str:
    heads: list[str] = []
    for n in _walk(root):
        if n.tag in ("h1", "h2", "h3"):
            parts: list[str] = []
            _visible_text(n, parts)
            heads.append(_WS_RX.sub(" ", "".join(parts)).strip())
    return " ".join(h for h in heads if h)


def _scrape_extended(
    html: str | bytes | None,
    url: str,
    opts: ScrapeOptions,
    want_root: bool = False,
    want_cleaned: bool = True,
) -> dict:
    """scrape_one with the full knob set, pass order mirroring the
    reference's ``LXMLWebScrapingStrategy._scrap``
    (content_scraping_strategy.py:1566-1750):

    css_selector projection -> exclude_all_images -> excluded_tags ->
    excluded_selector -> metadata -> forms -> link harvest (+exclusion
    removal) -> media harvest (+image exclusion removal) -> only_text
    -> flatten_nested (opt-in, BS4-strategy position) -> base64 clean
    -> empty-element prune -> attribute strip -> target_elements
    selection -> serialize.

    Removals drop the element's trailing text run (lxml ``remove()``
    tail semantics). See ScrapeOptions for the documented divergences.
    """
    failed = _failed_result(media=opts.media, want_root=want_root)
    root = _parse_ready(html)
    if root is None:
        return failed
    if opts.css_selector:
        root = project_css_selector(root, opts.css_selector)
    parents = _parent_map(root)

    if opts.exclude_all_images:  # reference :1615-1619
        for img in [n for n in _walk(root) if n.tag == "img"]:
            _remove_node(parents, img)
    if opts.excluded_tags:  # reference :1627-1634
        for tag in opts.excluded_tags:
            for el in [n for n in _walk(root) if n.tag == tag]:
                _remove_node(parents, el)
    if opts.excluded_selector:  # reference :1636-1645 (invalid -> skip)
        from .schema_extract import select_all

        try:
            matches = select_all(root, opts.excluded_selector)
        except Exception:
            matches = []
        for el in matches:
            _remove_node(parents, el)

    meta = extract_metadata(root)  # reference :1647-1654

    if opts.remove_forms:  # reference :1691-1694
        for el in [n for n in _walk(root) if n.tag == "form"]:
            _remove_node(parents, el)

    links = _extract_links_ex(root, parents, url, opts)

    media = None
    if opts.media:
        media = extract_media(root, parents, url, opts)
    elif opts.exclude_external_images or opts.effective_exclude_domains():
        # image exclusion runs even without the scored harvest
        # (reference's image loop always executes, :1176-1192)
        base_domain = get_base_domain_py(url)
        exclude_domains = opts.effective_exclude_domains()
        for img in [n for n in _walk(root) if n.tag == "img"]:
            src = img.attrs.get("src") or ""
            img_domain = get_base_domain_py(src)
            if (img_domain and img_domain in exclude_domains) or (
                opts.exclude_external_images
                and _is_external_url_py(src, base_domain)
            ):
                _remove_node(parents, img)

    if opts.only_text:  # reference :1714-1722
        only_text_transform(root, parents)
    if opts.flatten_nested:  # BS4 strategy :1043 (opt-in, see class doc)
        root = flatten_nested_elements(root)
        parents = _parent_map(root)  # flatten restructures the tree
    clean_base64_images(root)  # reference :1724-1728 (always)
    if opts.word_count_threshold is not None:  # reference :1731
        prune_empty_elements(root, parents, opts.word_count_threshold)
    if opts.strip_attrs:  # reference :1734-1736
        strip_attributes(root, opts.keep_data_attributes)

    content_root = root
    if opts.target_elements:  # reference :1657-1676 (copy.deepcopy'd)
        div = _Node("div")
        try:
            from .schema_extract import select_all

            for sel in opts.target_elements:
                div.children.extend(
                    _deep_copy_node(m) for m in select_all(root, sel)
                )
        except Exception:
            # reference returns None (scrape failure) on a selector
            # error here, unlike excluded_selector which is forgiven
            return failed
        content_root = _Node("#root")
        content_root.children.append(div)

    out = {
        "success": True,
        "title": meta.get("title"),
        "headings": _harvest_headings(content_root),
        "meta": meta,
        "links": links,
        "images": extract_images(content_root, url),
        "cleaned_html": (
            cleaned_html(content_root) if want_cleaned else None
        ),
        "text": page_text(content_root),
    }
    if opts.media:
        out["media"] = media
    if want_root:
        out["_root"] = content_root
    return out


def scrape_one(
    html: str | bytes | None,
    url: str,
    excluded_tags: frozenset[str] = DEFAULT_EXCLUDED_TAGS,
    want_root: bool = False,
    want_cleaned: bool = True,
    opts: ScrapeOptions | None = None,
) -> dict:
    """Full scrape of one page -> plain-dict ScrapingResult.

    ``want_root`` adds the parsed DOM under ``"_root"`` (scrape_stage
    makes its markdown from it with ``markdown_from_dom``);
    ``want_cleaned=False`` skips the serialization entirely, for callers
    that drop the cleaned_html column.

    ``opts`` (any non-default ScrapeOptions) routes through the
    knob-driven extended flow, where ``excluded_tags`` uses the
    reference's removal semantics (trailing text run dropped) rather
    than this default path's serialization-skip (text kept)."""
    if opts is not None and opts != DEFAULT_OPTS:
        return _scrape_extended(html, url, opts, want_root, want_cleaned)
    failed = _failed_result(want_root=want_root)
    root = _parse_ready(html)
    if root is None:
        # unrecoverable markup: error-fallback row (reference
        # content_scraping_strategy.py:1828-1864 returns success=False
        # with the crawl4ai_error_message div)
        return failed
    meta = extract_metadata(root)
    out = {
        "success": True,
        "title": meta.get("title"),
        "headings": _harvest_headings(root),
        "meta": meta,
        "links": extract_links(root, url),
        "images": extract_images(root, url),
        "cleaned_html": (
            cleaned_html(root, excluded_tags) if want_cleaned else None
        ),
        "text": page_text(root),
    }
    if want_root:
        out["_root"] = root
    return out


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------

SCRAPE_FIELDS_DDL = (
    "success boolean, title string, headings string, meta map<string,string>, "
    "links array<struct<href:string,text:string,title:string,"
    "base_domain:string,is_internal:boolean>>, "
    "images array<struct<src:string,alt:string>>, "
    "cleaned_html string, text string"
)

# scored media harvest column (opts.media=True): reference media dict
# shape (content_scraping_strategy.py:1174-1221, 1334-1341)
MEDIA_FIELD_DDL = (
    "media struct<"
    "images:array<struct<src:string,alt:string,desc:string,score:int,"
    "type:string,group_id:int,format:string,width:string>>,"
    "videos:array<struct<src:string,alt:string,type:string,"
    "description:string>>,"
    "audios:array<struct<src:string,alt:string,type:string,"
    "description:string>>>"
)


def scrape_stage(df, html_col: str = "html", url_col: str = "url",
                 markdown: bool = True, drop_cols: tuple = (),
                 opts: ScrapeOptions | None = None):
    """Append scrape (+ optional markdown) columns via one mapInPandas.

    Narrow transformation: preserves the input partitioning; one Python
    round-trip per Arrow batch. Input columns are carried through except
    those named in ``drop_cols`` — dropping the raw ``html`` (and
    ``cleaned_html`` when downstream doesn't persist it) roughly halves
    the Arrow traffic OUT of the Python workers, which is the scaling
    bottleneck of the stage at high parallelism.

    Output adds: success, title, headings, meta, links, images,
    cleaned_html, text_extracted (+ raw_markdown,
    markdown_with_citations, references_markdown when ``markdown=True``).
    raw_markdown is one ``markdown_from_dom`` call on the page's
    scraped DOM; failed pages get nulls.
    """
    from .markdown import links_to_citations

    in_schema = df.schema
    scrape_ddl = SCRAPE_FIELDS_DDL.replace("text string", "text_extracted string")
    if "cleaned_html" in drop_cols:
        scrape_ddl = scrape_ddl.replace("cleaned_html string, ", "")
    with_media = opts is not None and opts.media
    if with_media:
        scrape_ddl += ", " + MEDIA_FIELD_DDL
    out_ddl = ", ".join(
        [
            f.name + " " + f.dataType.simpleString()
            for f in in_schema.fields
            if f.name not in drop_cols
        ]
    ) + ", " + scrape_ddl
    if markdown:
        out_ddl += (
            ", raw_markdown string, markdown_with_citations string, "
            "references_markdown string"
        )

    # cleaned_html is serialized only if the caller keeps the column:
    # markdown comes straight off the DOM, so with "cleaned_html" in
    # drop_cols the page is never serialized
    skip_clean = "cleaned_html" in drop_cols

    def process(batches):
        import pandas as pd

        for pdf in batches:
            results = []
            for html, url in zip(pdf[html_col], pdf[url_col]):
                r = scrape_one(
                    html, url,
                    want_root=markdown, want_cleaned=not skip_clean,
                    opts=opts,
                )
                root = r.pop("_root", None)
                if markdown:
                    if r["success"]:
                        raw = markdown_from_dom(root, url or "")
                        cit, refs = links_to_citations(raw, url or "")
                    else:
                        raw = cit = refs = None
                    r["raw_markdown"] = raw
                    r["markdown_with_citations"] = cit
                    r["references_markdown"] = refs
                results.append(r)
            res = pd.DataFrame(results)
            res = res.rename(columns={"text": "text_extracted"})
            carried = pdf.drop(columns=[c for c in drop_cols if c in pdf.columns])
            if skip_clean:
                res = res.drop(columns=["cleaned_html"], errors="ignore")
            out = pd.concat(
                [carried.reset_index(drop=True), res.reset_index(drop=True)],
                axis=1,
            )
            yield out

    return df.mapInPandas(process, schema=out_ddl)
