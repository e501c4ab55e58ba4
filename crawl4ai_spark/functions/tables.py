"""Data-table detection + structured extraction (SURVEY.md A10, §2.8).

Reference: content_scraping_strategy.py — `is_data_table` scoring
(:201-273: thead/tbody/th presence, nested-table and presentation-role
penalties, column-count variance < 1, caption/summary bonuses, text/tag
density ratio, data-* attributes, size check; threshold 7) and
`extract_table_data` (:275-346: header extraction with colspan
duplication, thead/first-row fallback, row alignment/padding,
``Column {i+1}`` synthesized headers).

Runs over the stdlib DOM inside the scrape batch; emits
``array<struct<headers:array<string>, rows:array<array<string>>,
caption:string, summary:string, score:double>>``.
"""

from __future__ import annotations

from .scrape import _Node, _text_content, _walk, parse_dom


def _find_all(node: _Node, tag: str, *, skip_self: bool = True) -> list[_Node]:
    out = []
    for n in _walk(node):
        if n.tag == tag and not (skip_self and n is node):
            out.append(n)
    return out


def _cells(row: _Node) -> list[_Node]:
    return [n for n in _walk(row) if n.tag in ("td", "th") and n is not row]


def table_score(table: _Node) -> float:
    """is_data_table composite score (reference :212-272)."""
    score = 0.0
    has_thead = bool(_find_all(table, "thead"))
    has_tbody = bool(_find_all(table, "tbody"))
    if has_thead:
        score += 2
    if has_tbody:
        score += 1
    ths = _find_all(table, "th")
    rows = _find_all(table, "tr")
    if ths:
        score += 2
        first_row_th = bool(rows) and any(c.tag == "th" for c in _cells(rows[0]))
        if has_thead or first_row_th:
            score += 1
    if _find_all(table, "table"):
        score -= 3
    if (table.attrs.get("role") or "").lower() in ("presentation", "none"):
        score -= 3
    if not rows:
        return float("-inf")  # reference returns False outright
    col_counts = [len(_cells(r)) for r in rows]
    avg_cols = sum(col_counts) / len(col_counts)
    variance = sum((c - avg_cols) ** 2 for c in col_counts) / len(col_counts)
    if variance < 1:
        score += 2
    if _find_all(table, "caption"):
        score += 2
    if table.attrs.get("summary"):
        score += 1
    total_text = sum(
        len(_text_content(c).strip()) for r in rows for c in _cells(r)
    )
    total_tags = sum(1 for n in _walk(table) if n.tag != "") - 1
    text_ratio = total_text / (total_tags + 1e-5)
    if text_ratio > 20:
        score += 3
    elif text_ratio > 10:
        score += 2
    score += 0.5 * sum(1 for a in table.attrs if a.startswith("data-"))
    if avg_cols >= 2 and len(rows) >= 2:
        score += 2
    return score


def extract_table(table: _Node) -> dict:
    """extract_table_data (reference :275-346)."""
    captions = _find_all(table, "caption")
    caption = _text_content(captions[0]).strip() if captions else ""
    summary = (table.attrs.get("summary") or "").strip()

    def colspan(cell: _Node) -> int:
        try:
            return max(int(cell.attrs.get("colspan", 1)), 1)
        except (TypeError, ValueError):
            return 1

    headers: list[str] = []
    theads = _find_all(table, "thead")
    all_rows = _find_all(table, "tr")
    if theads:
        thead_rows = _find_all(theads[0], "tr")
        if thead_rows:
            for cell in [c for c in _cells(thead_rows[0]) if c.tag == "th"]:
                headers.extend([_text_content(cell).strip()] * colspan(cell))
        thead_ids = {id(r) for r in thead_rows}
        body_rows = [r for r in all_rows if id(r) not in thead_ids]
    else:
        if all_rows:
            first_cells = _cells(all_rows[0])
            if any(c.tag == "th" for c in first_cells):
                for cell in first_cells:
                    headers.extend([_text_content(cell).strip()] * colspan(cell))
                body_rows = all_rows[1:]
            else:
                for cell in first_cells:
                    headers.extend([_text_content(cell).strip()] * colspan(cell))
                body_rows = all_rows
        else:
            body_rows = []

    rows: list[list[str]] = []
    for r in body_rows:
        row_data: list[str] = []
        for cell in [c for c in _cells(r) if c.tag == "td"]:
            row_data.extend([_text_content(cell).strip()] * colspan(cell))
        if row_data:
            rows.append(row_data)

    max_cols = len(headers) if headers else (max((len(r) for r in rows), default=0))
    aligned = [r[:max_cols] + [""] * (max_cols - len(r)) for r in rows]
    if not headers:
        headers = [f"Column {i + 1}" for i in range(max_cols)]
    return {"headers": headers, "rows": aligned, "caption": caption,
            "summary": summary}


def extract_data_tables(html: str | bytes | None,
                        score_threshold: float = 7.0) -> list[dict]:
    """All data tables of a page (score >= threshold), with scores."""
    if html is None:
        return []
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    root = parse_dom(html)
    out = []
    for t in (n for n in _walk(root) if n.tag == "table"):
        s = table_score(t)
        if s >= score_threshold:
            d = extract_table(t)
            d["score"] = float(s)
            out.append(d)
    return out


TABLES_TYPE = (
    "array<struct<headers:array<string>,rows:array<array<string>>,"
    "caption:string,summary:string,score:double>>"
)


def tables_stage(df, html_col: str = "html",
                 score_threshold: float = 7.0,
                 out_col: str = "tables"):
    """Arrow-batched data-table extraction stage."""
    out_ddl = ", ".join(
        f.name + " " + f.dataType.simpleString() for f in df.schema.fields
    ) + f", {out_col} {TABLES_TYPE}"

    def process(batches):
        for pdf in batches:
            vals = []
            for h in pdf[html_col]:
                tabs = extract_data_tables(
                    bytes(h) if isinstance(h, (bytes, bytearray, memoryview)) else h,
                    score_threshold,
                )
                vals.append(
                    [
                        (t["headers"], t["rows"], t["caption"], t["summary"],
                         t["score"])
                        for t in tabs
                    ]
                )
            out = pdf.copy()
            out[out_col] = vals
            yield out

    return df.mapInPandas(process, schema=out_ddl)
