"""Scalar HTML/string utilities (SURVEY.md X4, X9, X11).

Reference semantics:
- ``sanitize_input_encode`` (utils.py:777-793): utf-8 encode/decode
  with errors ignored.
- ``escape_json_string`` (utils.py:796-823): JSON-safe escaping incl.
  control-character \\uXXXX expansion.
- ``parse_srcset`` / ``parse_dimension``
  (content_scraping_strategy.py:42-71): srcset variant splitting and
  CSS dimension parsing.
- ``preprocess_html_for_schema`` (utils.py:2863-3007): the ``fit_html``
  generator — strip head/media tags, keep only structural attributes
  (truncated at 200 chars), truncate long text nodes at 100 chars,
  drop repeated (tag, class, text-hash) elements, cap total size.

All scalars are usable both inside pandas UDF batches and as plain
Python; ``fit_html_stage`` is the Arrow-batched Spark surface.
"""

from __future__ import annotations

import re

from .scrape import _text_content, _walk, outer_html, parse_dom

_DIMENSION_RX = re.compile(r"(\d+)(\D*)")
_CTRL_RX = re.compile(r"[\x00-\x1f\x7f-\x9f]")

FIT_REMOVE_TAGS = {
    "script", "style", "noscript", "iframe", "canvas", "svg",
    "video", "audio", "source", "track", "map", "area", "head",
}
FIT_KEEP_ATTRS = {"id", "class", "name", "type", "value"}


def sanitize_input_encode(text: str | None) -> str:
    if not text:
        return ""
    return text.encode("utf-8", errors="ignore").decode("utf-8")


def escape_json_string(s: str) -> str:
    s = s.replace("\\", "\\\\")
    s = s.replace('"', '\\"')
    for ch, esc in (("\b", "\\b"), ("\f", "\\f"), ("\n", "\\n"),
                    ("\r", "\\r"), ("\t", "\\t")):
        s = s.replace(ch, esc)
    return _CTRL_RX.sub(lambda m: "\\u{:04x}".format(ord(m.group())), s)


def parse_srcset(s: str | None) -> list[dict]:
    if not s:
        return []
    variants = []
    for part in s.split(","):
        part = part.strip()
        if not part:
            continue
        bits = part.split()
        if bits:
            width = (
                bits[1].rstrip("w").split(".")[0]
                if len(bits) > 1 and bits[1].endswith("w")
                else None
            )
            variants.append({"url": bits[0], "width": width})
    return variants


def parse_dimension(dimension: str | None):
    if dimension:
        m = _DIMENSION_RX.match(dimension)
        if m:
            return int(m.group(1)), m.group(2) or "px"
    return None, None


# ---------------------------------------------------------------------------
# fit_html (X11)
# ---------------------------------------------------------------------------


def preprocess_html_for_schema(
    html_content: str | None,
    text_threshold: int = 100,
    attr_value_threshold: int = 200,
    max_size: int = 100000,
) -> str:
    """Shrink HTML for schema generation while preserving structure."""
    if not html_content:
        return ""
    try:
        root = parse_dom(html_content)
        # replacing the held node's children steers the walk (see _walk)
        for n in _walk(root):
            if n.tag == "":
                txt = n.attrs.get("text", "")
                if len(txt.strip()) > text_threshold:
                    n.attrs["text"] = txt.strip()[:text_threshold] + "..."
                continue
            for k in list(n.attrs.keys()):
                if not (k in FIT_KEEP_ATTRS or k.startswith("data-")):
                    n.attrs.pop(k)
                elif n.attrs[k] is not None and len(n.attrs[k]) > attr_value_threshold:
                    n.attrs[k] = n.attrs[k][:attr_value_threshold] + "..."
            n.children = [c for c in n.children if c.tag not in FIT_REMOVE_TAGS]

        # drop repeated (tag, class, text-hash) elements, first-seen
        # wins; a node's children are all checked before any of them
        # is descended into
        seen: set[tuple] = set()
        for n in _walk(root):
            kept = []
            for c in n.children:
                if c.tag != "" and c.attrs.get("class"):
                    sig = (c.tag, c.attrs["class"], hash(_text_content(c)))
                    if sig in seen:
                        continue
                    seen.add(sig)
                kept.append(c)
            n.children = kept

        result = outer_html(root)
        if len(result) > max_size:
            return result[:max_size] + "..."
        return result
    except Exception:
        return (
            html_content[:max_size]
            if len(html_content) > max_size
            else html_content
        )


def fit_html_stage(df, html_col: str = "html", out_col: str = "fit_html",
                   **kwargs):
    """Arrow-batched fit_html generation (async_webcrawler.py:513)."""
    out_ddl = ", ".join(
        f.name + " " + f.dataType.simpleString() for f in df.schema.fields
    ) + f", {out_col} string"

    def process(batches):
        for pdf in batches:
            vals = []
            for h in pdf[html_col]:
                if h is None:
                    vals.append(None)
                    continue
                if isinstance(h, (bytes, bytearray)):
                    h = h.decode("utf-8", errors="replace")
                vals.append(preprocess_html_for_schema(h, **kwargs))
            out = pdf.copy()
            out[out_col] = vals
            yield out

    return df.mapInPandas(process, schema=out_ddl)
