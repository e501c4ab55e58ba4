"""HTML -> Markdown conversion + link-citation rewrite.

Re-derived to byte parity from the observable semantics of the
reference's markdown stage
(/root/reference/crawl4ai/markdown_generation_strategy.py:148-250 with
its CustomHTML2Text defaults: body_width=0, single_line_break=True,
mark_code=True, escape_snob=False, ignore_mailto_links=True,
inline_links=True) — byte-identical on the engine's page corpus,
verified by golden differential tests in tests/test_markdown_golden.py.
Byte parity pins the converter state machine's shape (and some of its
state vocabulary) to html2text's published design; the implementation
here is condensed to a different emit architecture in ~520 lines.

Implementation: a single-pass stdlib ``html.parser.HTMLParser`` state
machine (no external deps). The extract stage drives it from the DOM
(``scrape.markdown_from_dom``); ``html_to_markdown`` feeds it a string.

Scale note: conversion is a narrow per-row transformation — it
pipelines inside whatever partitioning the fetch join produced, no
shuffle.
"""

from __future__ import annotations

import re
from html.entities import html5 as _HTML5_ENTITIES
from html.parser import HTMLParser
from urllib.parse import urljoin

from .scrape import TolerantMarkupMixin, _abs_url

# ASCII substitutions for typographic entities (standard html2text-style
# unification table; factual character mapping).
ENTITY_SUBS = {
    "rsquo": "'", "lsquo": "'", "rdquo": '"', "ldquo": '"',
    "copy": "(C)", "mdash": "--", "nbsp": " ", "rarr": "->",
    "larr": "<-", "middot": "*", "ndash": "-", "oelig": "oe",
    "aelig": "ae",
    "agrave": "a", "aacute": "a", "acirc": "a", "atilde": "a",
    "auml": "a", "aring": "a",
    "egrave": "e", "eacute": "e", "ecirc": "e", "euml": "e",
    "igrave": "i", "iacute": "i", "icirc": "i", "iuml": "i",
    "ograve": "o", "oacute": "o", "ocirc": "o", "otilde": "o",
    "ouml": "o",
    "ugrave": "u", "uacute": "u", "ucirc": "u", "uuml": "u",
    "lrm": "", "rlm": "",
}
# codepoint -> substitution, for numeric charrefs
ENTITY_SUBS_BY_CP = {}
for _name, _sub in ENTITY_SUBS.items():
    _ch = _HTML5_ENTITIES.get(_name + ";")
    if _ch and len(_ch) == 1:
        ENTITY_SUBS_BY_CP[ord(_ch)] = _sub

_ABS_URL_RX = re.compile(r"^[a-zA-Z+]+://")
_MD_ESCAPE_RX = re.compile(r"([\\\[\]\(\)])")
_WS_RX = re.compile(r"\s+")
_STRESS_FOLLOW_RX = re.compile(r"[^][(){}\s.!?]")

_HEADER_TAGS = {"h1": 1, "h2": 2, "h3": 3, "h4": 4, "h5": 5, "h6": 6}


def _escape_link_part(s: str) -> str:
    return _MD_ESCAPE_RX.sub(r"\\\1", s)


class _MdState(TolerantMarkupMixin, HTMLParser):
    """Streaming HTML->markdown emitter.

    Whitespace model: text is collapsed to single spaces; a pending-space
    flag and a pending-newline counter are flushed lazily before the next
    emission, so block boundaries coalesce instead of stacking.

    TolerantMarkupMixin (scrape.py) degrades garbage marked sections
    ('<![<') to skipped spans. The reference never sees such input here
    (its generator runs on lxml-cleaned HTML), so parity on well-formed
    documents is unaffected.
    """

    def __init__(self, base_url: str = ""):
        super().__init__(convert_charrefs=False)
        self.base_url = base_url
        self.parts: list[str] = []
        self.pending_nl = 0
        self.pending_space = False
        self.at_start = True
        self.last_was_nl = False
        self.br_suffix = ""
        self.quiet = 0
        self.bq_depth = 0
        self.in_pre = False
        self.in_code = False
        self.in_header = False
        self.stressed = False
        self.preceding_stressed = False
        self.preceding_data = ""
        self.current_tag = ""
        # links
        self.astack: list[dict | None] = []
        self.maybe_auto_link: str | None = None
        self.empty_link = False
        self.inside_link = False
        # lists: (kind, counter)
        self.lists: list[list] = []
        self.last_was_list = False
        # tables
        self.table_header_pending = False
        self.td_count = 0
        self.need_cell_sep = False

    # -- output core --------------------------------------------------------

    def _out(self, s: str) -> None:
        self.parts.append(s)
        if s:
            self.last_was_nl = s.endswith("\n")

    def _emit(self, data: str, collapse: bool = False, force=False) -> None:
        # reference parity: html2text gates output on `not self.quiet`,
        # so NEGATIVE quiet (a stray close tag before any open) also
        # suppresses — '</script>text<script>js</script>' emits the JS
        # and drops the text there, and must here too (pinned by the
        # malformed-tags differential case)
        if self.quiet != 0:
            return
        if collapse and not self.in_pre:
            data = _WS_RX.sub(" ", data)
            if data and data[0] == " ":
                self.pending_space = True
                data = data[1:]
        if not data and force is False:
            return
        bq = ">" * self.bq_depth
        if self.bq_depth and not (force is True and data and data[0] == ">"):
            bq += " "
        if self.at_start:
            self.pending_space = False
            self.pending_nl = 0
            self.at_start = False
        if force == "end":
            self.pending_nl = 0
            self._out("\n")
            self.pending_space = False
        if self.pending_nl:
            self._out((self.br_suffix + "\n" + bq) * self.pending_nl)
            self.pending_space = False
            self.br_suffix = ""
        if self.pending_space:
            if not self.last_was_nl:
                self._out(" ")
            self.pending_space = False
        self.pending_nl = 0
        self._out(data)

    def _block(self) -> None:
        self.pending_nl = 1  # single_line_break

    def _line(self) -> None:
        if self.pending_nl == 0:
            self.pending_nl = 1

    def _soft_br(self) -> None:
        self._line()
        self.br_suffix = "  "

    # -- tag dispatch -------------------------------------------------------

    def handle_starttag(self, tag, attrs):
        self._tag(tag, dict(attrs), True)

    def handle_endtag(self, tag):
        self._tag(tag, {}, False)

    def handle_startendtag(self, tag, attrs):
        self._tag(tag, dict(attrs), True)

    def _tag(self, tag: str, attrs: dict, start: bool) -> None:
        self.current_tag = tag

        # a preceding <a> waiting to learn whether it is an automatic link:
        # any output-producing tag inside it settles the question
        if (
            start
            and self.maybe_auto_link is not None
            and tag not in ("p", "div", "style", "dl", "dt", "img")
        ):
            self._emit("[")
            self.maybe_auto_link = None
            self.empty_link = False

        if tag == "pre":
            if start:
                self._emit("```\n")
                self.in_pre = True
            else:
                self._emit("\n```\n")
                self.in_pre = False
            return
        if tag in ("code", "kbd", "tt"):
            if self.in_pre:
                return
            if not self.inside_link:
                self._emit("`")
            self.in_code = start
            return

        if tag in _HEADER_TAGS:
            self._block()
            if start:
                self.in_header = True
                self._emit("#" * _HEADER_TAGS[tag] + " ")
            else:
                self.in_header = False
                return

        if tag in ("p", "div"):
            if not self.astack and not self.need_cell_sep:
                self._block()

        if tag == "br" and start:
            if self.bq_depth > 0:
                self._emit("  \n> ")
            else:
                self._emit("  \n")

        if tag == "hr" and start:
            self._block()
            self._emit("* * *")
            self._block()

        if tag in ("head", "style", "script"):
            self.quiet += 1 if start else -1
        if tag == "body":
            self.quiet = 0

        if tag == "blockquote":
            if start:
                self._block()
                self._emit("> ", force=True)
                self.at_start = True
                self.bq_depth += 1
            else:
                self.bq_depth -= 1
                self._block()

        if tag in ("em", "i", "u"):
            mark = "_"
            if (
                start
                and self.preceding_data
                and not self.preceding_data[-1].isspace()
                and not _is_punct(self.preceding_data[-1])
            ):
                mark = " _"
                self.preceding_data += " "
            self._emit(mark)
            if start:
                self.stressed = True

        if tag in ("strong", "b"):
            mark = "**"
            if start and self.preceding_data and self.preceding_data[-1] == "*":
                mark = " **"
                self.preceding_data += " "
            self._emit(mark)
            if start:
                self.stressed = True

        if tag in ("del", "strike", "s"):
            mark = "~~"
            if start and self.preceding_data and self.preceding_data[-1] == "~":
                mark = " ~~"
                self.preceding_data += " "
            self._emit(mark)
            if start:
                self.stressed = True

        if tag == "a":
            if start:
                self.inside_link = True
                href = attrs.get("href")
                if href is not None and not href.startswith("mailto:"):
                    self.astack.append(dict(attrs))
                    self.maybe_auto_link = href
                    self.empty_link = True
                else:
                    self.astack.append(None)
            else:
                self.inside_link = False
                if self.astack:
                    a = self.astack.pop()
                    if self.maybe_auto_link and not self.empty_link:
                        self.maybe_auto_link = None
                    elif a:
                        if self.empty_link:
                            self._emit("[")
                            self.empty_link = False
                            self.maybe_auto_link = None
                        self.pending_nl = 0
                        # _abs_url == urljoin (fuzz-pinned), minus the
                        # parse/unparse round trip for absolute hrefs
                        url = _escape_link_part(_abs_url(self.base_url, a["href"]))
                        title = (a.get("title") or "")
                        title = (
                            ' "{}"'.format(_escape_link_part(title))
                            if title.strip()
                            else ""
                        )
                        self._emit("](" + url + title + ")")

        if tag == "img" and start:
            src = attrs.get("src")
            if src is not None:
                if self.maybe_auto_link is not None:
                    self._emit("[")
                    self.maybe_auto_link = None
                    self.empty_link = False
                alt = _escape_link_part(attrs.get("alt") or "")
                self._emit("![" + alt + "]")
                self._emit("(" + _escape_link_part(_abs_url(self.base_url, src)) + ")")

        if tag in ("ol", "ul"):
            if not self.lists and not self.last_was_list:
                self._block()
            if start:
                try:
                    num = int(attrs.get("start", 1)) - 1
                except (TypeError, ValueError):
                    num = 0
                self.lists.append([tag, num])
            else:
                if self.lists:
                    self.lists.pop()
                    if not self.lists:
                        self._emit("\n")
            self.last_was_list = True
        else:
            self.last_was_list = False

        if tag == "li":
            self._line()
            if start:
                kind, _ = self.lists[-1] if self.lists else ("ul", 0)
                parent = None
                for entry in self.lists:
                    self._emit("   " if parent == "ol" and entry[0] == "ul" else "  ")
                    parent = entry[0]
                if kind == "ul":
                    self._emit("* ")
                else:
                    self.lists[-1][1] += 1
                    self._emit(str(self.lists[-1][1]) + ". ")
                self.at_start = True

        if tag in ("table", "tr", "td", "th"):
            if tag == "table" and start:
                self.table_header_pending = True
            if tag in ("td", "th") and start:
                if self.need_cell_sep:
                    self._emit("| ")
                self.need_cell_sep = True
            if tag == "tr" and start:
                self.td_count = 0
            if tag == "tr" and not start:
                self.need_cell_sep = False
                self._soft_br()
                if self.table_header_pending:
                    self._emit("|".join(["---"] * self.td_count))
                    self._soft_br()
                    self.table_header_pending = False
            if tag in ("td", "th") and start:
                self.td_count += 1

    # -- data & entities ----------------------------------------------------

    def handle_data(self, data: str, entity_char: bool = False) -> None:
        if not data:
            return
        if self.in_pre:
            self._emit(data)
            return
        if self.in_code:
            self._emit(data.replace("\n", " "))
            return

        if self.stressed:
            data = data.strip()
            self.stressed = False
            self.preceding_stressed = True
        elif self.preceding_stressed:
            if (
                _STRESS_FOLLOW_RX.match(data[:1])
                and self.current_tag not in _HEADER_TAGS
                and self.current_tag not in ("a", "code", "pre")
            ):
                data = " " + data
            self.preceding_stressed = False

        if self.maybe_auto_link is not None:
            href = self.maybe_auto_link
            if href == data and _ABS_URL_RX.match(href):
                self._emit("<" + data + ">")
                self.empty_link = False
                return
            self._emit("[")
            self.maybe_auto_link = None
            self.empty_link = False

        self.preceding_data = data
        self._emit(data, collapse=True)

    def handle_entityref(self, name: str) -> None:
        if name in ENTITY_SUBS:
            self.handle_data(ENTITY_SUBS[name], entity_char=True)
            return
        ch = _HTML5_ENTITIES.get(name + ";")
        self.handle_data(ch if ch is not None else "&" + name + ";", entity_char=True)

    def handle_charref(self, name: str) -> None:
        try:
            cp = int(name[1:], 16) if name[:1] in ("x", "X") else int(name)
        except ValueError:
            return
        if cp in ENTITY_SUBS_BY_CP:
            self.handle_data(ENTITY_SUBS_BY_CP[cp], entity_char=True)
            return
        try:
            self.handle_data(chr(cp), entity_char=True)
        except (ValueError, OverflowError):
            # chr() raises OverflowError (not ValueError) past the C int
            # range — `&#99999999999999999999;` must not kill the batch
            pass

    def handle_comment(self, data: str) -> None:
        pass

    def result(self) -> str:
        self.close()
        self._line()
        self._emit("", force="end")
        return "".join(self.parts)


def _is_punct(ch: str) -> bool:
    import string

    return ch in string.punctuation


def _finish(md: str) -> str:
    """Shared final post-processing — ``html_to_markdown`` and
    scrape.py's ``markdown_from_dom`` MUST apply identical steps (byte
    parity)."""
    return md.replace("    ```", "```")


def html_to_markdown(html: str | None, base_url: str = "") -> str:
    """Convert HTML to markdown (raw_markdown stage)."""
    p = _MdState(base_url=base_url)
    p.feed(html or "")
    p.feed("")
    return _finish(p.result())


# ---------------------------------------------------------------------------
# Citation rewrite — behavior of DefaultMarkdownGenerator
# .convert_links_to_citations (markdown_generation_strategy.py:82-146)
# ---------------------------------------------------------------------------

LINK_RX = re.compile(r'!?\[([^\]]+)\]\(([^)]+?)(?:\s+"([^"]*)")?\)')


def _join_url(base: str, url: str) -> str:
    if url.startswith(("http://", "https://", "mailto:", "//")):
        return url
    if url.startswith("/"):
        return (base[:-1] if base.endswith("/") else base) + url
    return urljoin(base, url)


def links_to_citations(markdown: str, base_url: str = "") -> tuple[str, str]:
    """Rewrite inline links as numbered citations; return (md, references).

    Numbering is first-seen order per distinct absolute URL; image links
    keep their ``![..]`` form. Reference lines are '⟨n⟩ url: title - text'.
    """
    numbered: dict[str, tuple[int, str]] = {}
    out: list[str] = []
    pos = 0
    n = 1
    for m in LINK_RX.finditer(markdown):
        out.append(markdown[pos : m.start()])
        text, url, title = m.groups()
        if base_url and not url.startswith(("http://", "https://", "mailto:")):
            url = _join_url(base_url, url)
        if url not in numbered:
            desc = []
            if title:
                desc.append(title)
            if text and text != title:
                desc.append(text)
            numbered[url] = (n, ": " + " - ".join(desc) if desc else "")
            n += 1
        num = numbered[url][0]
        if m.group(0).startswith("!"):
            out.append(f"![{text}⟨{num}⟩]")
        else:
            out.append(f"{text}⟨{num}⟩")
        pos = m.end()
    out.append(markdown[pos:])

    refs = ["\n\n## References\n\n"]
    refs.extend(
        f"⟨{num}⟩ {url}{desc}\n"
        for url, (num, desc) in sorted(numbered.items(), key=lambda kv: kv[1][0])
    )
    return "".join(out), "".join(refs)
