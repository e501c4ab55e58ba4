"""JSON-CSS / JSON-XPath schema extraction (SURVEY.md X8).

Reference: JsonCssExtractionStrategy + JsonElementExtractionStrategy
(/root/reference/crawl4ai/extraction_strategy.py:804-1081, 1197-1243)
and JsonXPathExtractionStrategy (:1612-1674): a user schema
{baseSelector, baseFields, fields[...]} drives per-page structured
extraction; field types text / attribute / html / regex / nested /
list / nested_list / computed, transforms lowercase / uppercase /
strip; missing selector -> default.

From-scratch CSS selector engine (subset) over the stdlib DOM:
comma-separated groups; within a group, simple selectors combined by
descendant (whitespace) or child ('>') combinators; each simple
selector is [tag|*][.class]*[#id][[attr=value]]. This covers the
selector shapes in the reference's schema examples; unsupported syntax
raises ValueError at schema-compile time, not per row.

From-scratch XPath engine (subset): absolute or '.'-relative paths of
``/`` (child) and ``//`` (descendant) steps over ``tag | *``;
predicates ``[@attr]``, ``[@attr='v']`` and positional ``[n]``
(per-parent group, lxml semantics); terminal ``text()`` and ``@attr``
steps. The XPath strategy mirrors the reference's dispatch: selectors
containing '/' run as XPath, others fall back through the CSS engine
(extraction_strategy.py:1646-1663 _css_to_xpath).

Spark surface: ``schema_extract_stage`` — mapInPandas emitting a JSON
string column (the reference also emits JSON —
async_webcrawler.py:619-621); downstream structure via ``from_json``.
"""

from __future__ import annotations

import json
import re

from .scrape import (
    _Node,
    _parent_map,
    _text_content,
    _text_strip,
    _walk,
    outer_html,
    parse_dom,
)

_SIMPLE_RX = re.compile(
    r"^(?P<tag>\*|[a-zA-Z][\w-]*)?"
    r"(?P<classes>(?:\.[\w-]+)*)"
    r"(?P<id>#[\w-]+)?"
    r"(?P<attrs>(?:\[[^\]]*\])*)"
    r"(?P<pseudos>(?::[\w-]+(?:\(\d+\))?)*)$"
)
_ATTR_RX = re.compile(
    r"\[([\w-]+)(?:([~^$*|]?=)(\"[^\"]*\"|'[^']*'|[^\]]*))?\]"
)
_PSEUDO_RX = re.compile(r":([\w-]+)(?:\((\d+)\))?")

# pseudo-classes with positional semantics; anything else raises at
# compile time (silent empty extraction is the failure mode to avoid)
_POSITIONAL_PSEUDOS = frozenset(
    {
        "first-child", "last-child", "only-child", "nth-child",
        "first-of-type", "last-of-type", "only-of-type", "nth-of-type",
    }
)


class SimpleSelector:
    """One compound selector: tag.classes#id[attr op v]...:pseudo.

    r3 widened toward the reference's soupsieve surface: multiple
    attribute selectors with the =, ~=, ^=, $=, *=, |= operators and
    the positional pseudo-classes (:first/last/only-child,
    :nth-child(n), and their -of-type twins). Unsupported pseudos or
    malformed tokens raise ValueError when the schema compiles."""

    __slots__ = ("tag", "classes", "id", "attrs", "pseudos")

    def __init__(self, token: str):
        m = _SIMPLE_RX.match(token)
        if not m or not token:
            raise ValueError(f"unsupported selector token: {token!r}")
        self.tag = m.group("tag") if m.group("tag") not in (None, "*") else None
        self.classes = [c for c in (m.group("classes") or "").split(".") if c]
        self.id = m.group("id")[1:] if m.group("id") else None
        self.attrs: list[tuple[str, str | None, str | None]] = []
        for k, op, v in _ATTR_RX.findall(m.group("attrs") or ""):
            if op:
                self.attrs.append((k, op, (v or "").strip("\"'")))
            else:
                self.attrs.append((k, None, None))
        self.pseudos: list[tuple[str, int | None]] = []
        for name, num in _PSEUDO_RX.findall(m.group("pseudos") or ""):
            if name not in _POSITIONAL_PSEUDOS:
                raise ValueError(f"unsupported pseudo-class :{name} in {token!r}")
            if name.startswith("nth-") and not num:
                raise ValueError(f":{name} needs an index in {token!r}")
            self.pseudos.append((name, int(num) if num else None))

    def _attr_ok(self, node: _Node) -> bool:
        for k, op, v in self.attrs:
            val = node.attrs.get(k)
            if val is None:
                return False
            if op is None:
                continue
            if op == "=":
                ok = val == v
            elif op == "~=":
                ok = v in val.split()
            elif op == "^=":
                ok = bool(v) and val.startswith(v)
            elif op == "$=":
                ok = bool(v) and val.endswith(v)
            elif op == "*=":
                ok = bool(v) and v in val
            else:  # |=
                ok = val == v or val.startswith(v + "-")
            if not ok:
                return False
        return True

    def _pseudo_ok(self, node: _Node, parent: _Node | None) -> bool:
        for name, num in self.pseudos:
            if parent is None:
                return False
            sibs = [c for c in parent.children if c.tag != ""]
            idx = next((i for i, c in enumerate(sibs) if c is node), None)
            if idx is None:
                return False
            if name.endswith("-of-type"):
                typed = [c for c in sibs if c.tag == node.tag]
                tix = next(i for i, c in enumerate(typed) if c is node)
                if name == "first-of-type" and tix != 0:
                    return False
                if name == "last-of-type" and tix != len(typed) - 1:
                    return False
                if name == "only-of-type" and len(typed) != 1:
                    return False
                if name == "nth-of-type" and tix + 1 != num:
                    return False
            else:
                if name == "first-child" and idx != 0:
                    return False
                if name == "last-child" and idx != len(sibs) - 1:
                    return False
                if name == "only-child" and len(sibs) != 1:
                    return False
                if name == "nth-child" and idx + 1 != num:
                    return False
        return True

    def matches(self, node: _Node, parent: _Node | None = None) -> bool:
        if node.tag in ("", "#root"):
            return False
        if self.tag and node.tag != self.tag:
            return False
        if self.id and node.attrs.get("id") != self.id:
            return False
        if self.classes:
            node_classes = (node.attrs.get("class") or "").split()
            if any(c not in node_classes for c in self.classes):
                return False
        if self.attrs and not self._attr_ok(node):
            return False
        if self.pseudos and not self._pseudo_ok(node, parent):
            return False
        return True


_COMBINATORS = {">": "child", "+": "adjacent", "~": "sibling"}


def _tokenize_group(group: str) -> list[str]:
    """Split one selector group into compound tokens + combinators,
    quote- and bracket-aware: whitespace and '~' inside
    ``[title^='target 0']`` belong to the token, not the grammar."""
    tokens: list[str] = []
    buf: list[str] = []
    depth, q = 0, None
    for ch in group:
        if q:
            buf.append(ch)
            if ch == q:
                q = None
        elif ch in "\"'":
            q = ch
            buf.append(ch)
        elif ch == "[":
            depth += 1
            buf.append(ch)
        elif ch == "]":
            depth -= 1
            buf.append(ch)
        elif depth == 0 and ch in ">+~":
            if buf:
                tokens.append("".join(buf))
                buf = []
            tokens.append(ch)
        elif depth == 0 and ch.isspace():
            if buf:
                tokens.append("".join(buf))
                buf = []
        else:
            buf.append(ch)
    if buf:
        tokens.append("".join(buf))
    return tokens


def _split_selector_groups(selector: str) -> list[str]:
    """Split a selector list on top-level commas only — a comma inside
    quotes or [brackets] (e.g. 'div[title="a,b"] span') is part of the
    group, matching _tokenize_group's quote/bracket awareness."""
    groups: list[str] = []
    buf: list[str] = []
    depth = 0
    quote: str | None = None
    for ch in selector:
        if quote is not None:
            buf.append(ch)
            if ch == quote:
                quote = None
        elif ch in "\"'":
            quote = ch
            buf.append(ch)
        elif ch == "[":
            depth += 1
            buf.append(ch)
        elif ch == "]":
            depth = max(0, depth - 1)
            buf.append(ch)
        elif ch == "," and depth == 0:
            groups.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    groups.append("".join(buf))
    return groups


def compile_selector(selector: str) -> list[list[tuple[str, SimpleSelector]]]:
    """-> groups of [(combinator, simple)] with combinator in
    {'descendant', 'child', 'adjacent', 'sibling'}; the first entry's
    combinator is 'descendant'."""
    groups = []
    for group in _split_selector_groups(selector):
        tokens = _tokenize_group(group)
        seq: list[tuple[str, SimpleSelector]] = []
        comb = "descendant"
        for tok in tokens:
            if tok in _COMBINATORS:
                if comb != "descendant":
                    raise ValueError(f"dangling combinator in {selector!r}")
                comb = _COMBINATORS[tok]
                continue
            seq.append((comb, SimpleSelector(tok)))
            comb = "descendant"
        if not seq:
            raise ValueError(f"empty selector group in {selector!r}")
        if comb != "descendant":
            raise ValueError(f"trailing combinator in {selector!r}")
        if seq[0][0] != "descendant":
            raise ValueError(f"leading combinator in {selector!r}")
        groups.append(seq)
    return groups


def select_all(root: _Node, selector: str) -> list[_Node]:
    """All descendant nodes of `root` matching the selector, in
    document order, de-duplicated across groups."""
    groups = compile_selector(selector)
    matched: list[_Node] = []
    seen: set[int] = set()

    def _elder_siblings(node: _Node) -> list[_Node]:
        parent = _parents.get(id(node))
        if parent is None:
            return []
        sibs = [c for c in parent.children if c.tag != ""]
        idx = next((i for i, c in enumerate(sibs) if c is node), None)
        return sibs[:idx] if idx is not None else []

    def match_seq(node: _Node, seq) -> bool:
        comb, simple = seq[-1]
        if not simple.matches(node, _parents.get(id(node))):
            return False
        if len(seq) == 1:
            return True
        rest = seq[:-1]
        if comb == "child":
            parent = _parents.get(id(node))
            return parent is not None and match_seq(parent, rest)
        if comb == "adjacent":
            elders = _elder_siblings(node)
            return bool(elders) and match_seq(elders[-1], rest)
        if comb == "sibling":
            return any(match_seq(s, rest) for s in _elder_siblings(node))
        anc = _parents.get(id(node))
        while anc is not None:
            if match_seq(anc, rest):
                return True
            anc = _parents.get(id(anc))
        return False

    # the REAL parent (incl. #root): position pseudos and sibling
    # combinators need the container's child list even for fragment
    # top-level elements; #root itself can never match a selector, so
    # ancestor/child matching is unaffected
    _parents = _parent_map(root)

    for node in _walk(root):
        if node is root or node.tag == "":
            continue
        for seq in groups:
            if match_seq(node, seq):
                if id(node) not in seen:
                    seen.add(id(node))
                    matched.append(node)
                break
    return matched


# ---------------------------------------------------------------------------
# XPath engine (subset)
# ---------------------------------------------------------------------------

_XP_AXES = (
    "ancestor-or-self", "ancestor", "descendant-or-self", "descendant",
    "following-sibling", "preceding-sibling", "parent", "child", "self",
)
_XP_STEP_RX = re.compile(
    r"(//|/)"                                   # separator
    r"(?:(" + "|".join(_XP_AXES) + r")::)?"     # named axis (longest-first)
    r"(\*|\.\.|text\(\)|@[\w-]+|[a-zA-Z][\w-]*)"  # node test
    r"((?:\[[^\]]*\])*)"                        # predicates
)
# One boolean ATOM inside a predicate (the [..] brackets are stripped and
# and/or/not() structure is handled by _xp_parse_pred_body above this).
_XP_ATOM_RX = re.compile(
    r"""(?:
    (?P<pos>\d+)
    |(?P<last>last\(\))(?:\s*-\s*(?P<lastoff>\d+))?
    |position\(\)\s*(?P<plop>!?=)\s*last\(\)(?:\s*-\s*(?P<ploff>\d+))?
    |position\(\)\s*(?P<pcmp>!=|=|<=|>=|<|>)\s*(?P<pnum>\d+)
    |count\(\s*(?P<cnt>\*|[a-zA-Z][\w-]*)\s*\)\s*(?P<ccmp>!=|=|<=|>=|<|>)\s*(?P<cnum>\d+)
    |string-length\(\s*(?:@(?P<slattr>[\w-]+)|\.)?\s*\)\s*(?P<slcmp>!=|=|<=|>=|<|>)\s*(?P<slnum>\d+)
    |normalize-space\(\s*(?:@(?P<nsattr>[\w-]+)|\.)?\s*\)\s*(?P<nsop>!?=)\s*(?P<nsq>["'])(?P<nsval>.*?)(?P=nsq)
    |contains\(\s*@(?P<cattr>[\w-]+)\s*,\s*(?P<cq>["'])(?P<cval>.*?)(?P=cq)\s*\)
    |starts-with\(\s*@(?P<sattr>[\w-]+)\s*,\s*(?P<sq>["'])(?P<sval>.*?)(?P=sq)\s*\)
    |contains\(\s*(?:text\(\)|\.)\s*,\s*(?P<tq>["'])(?P<tval>.*?)(?P=tq)\s*\)
    |starts-with\(\s*(?:text\(\)|\.)\s*,\s*(?P<stq>["'])(?P<stval>.*?)(?P=stq)\s*\)
    |text\(\)\s*(?P<txop>!?=)\s*(?P<txq>["'])(?P<txval>.*?)(?P=txq)
    |\.\s*(?P<dotop>!?=)\s*(?P<dotq>["'])(?P<dotval>.*?)(?P=dotq)
    |@(?P<attr>[\w-]+)\s*(?:(?P<aop>!?=)\s*(?P<q>["'])(?P<val>.*?)(?P=q))?
    |(?P<child>[a-zA-Z][\w-]*)
    )""",
    re.X,
)
_XP_BRACKET_RX = re.compile(r"\[([^\]]*)\]")


def _xp_split_bool(body: str, kw: str) -> list[str]:
    """Split a predicate body on top-level ``and``/``or`` keywords
    (quote- and paren-aware)."""
    parts, depth, q, start, i = [], 0, None, 0, 0
    n = len(body)
    klen = len(kw)
    while i < n:
        ch = body[i]
        if q:
            if ch == q:
                q = None
        elif ch in "\"'":
            q = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif (
            depth == 0
            and body.startswith(kw, i)
            and i > 0 and body[i - 1].isspace()
            and i + klen < n and body[i + klen].isspace()
        ):
            parts.append(body[start:i])
            start = i + klen
            i += klen
            continue
        i += 1
    parts.append(body[start:])
    return parts


def _xp_split_union(expr: str) -> list[str]:
    """Split a top-level ``a | b`` union (quote- and bracket-aware)."""
    parts, depth, q, start = [], 0, None, 0
    for i, ch in enumerate(expr):
        if q:
            if ch == q:
                q = None
        elif ch in "\"'":
            q = ch
        elif ch == "[":
            depth += 1
        elif ch == "]":
            depth -= 1
        elif ch == "|" and depth == 0:
            parts.append(expr[start:i])
            start = i + 1
    parts.append(expr[start:])
    return [p.strip() for p in parts]


def _xp_parse_atom(pm: "re.Match") -> tuple:
    if pm.group("pos"):
        return ("pos", int(pm.group("pos")))
    if pm.group("last"):
        return ("pos_last", int(pm.group("lastoff") or 0))
    if pm.group("plop"):
        return ("pos_last_cmp", pm.group("plop"),
                int(pm.group("ploff") or 0))
    if pm.group("pcmp"):
        return ("pos_cmp", pm.group("pcmp"), int(pm.group("pnum")))
    if pm.group("cnt"):
        return ("count_cmp", pm.group("cnt"), pm.group("ccmp"),
                int(pm.group("cnum")))
    if pm.group("slcmp"):
        return ("strlen_cmp", pm.group("slattr"), pm.group("slcmp"),
                int(pm.group("slnum")))
    if pm.group("nsval") is not None:
        return ("normspace", pm.group("nsattr"), pm.group("nsop"),
                pm.group("nsval"))
    if pm.group("cattr"):
        return ("attr_contains", pm.group("cattr"), pm.group("cval"))
    if pm.group("sattr"):
        return ("attr_starts", pm.group("sattr"), pm.group("sval"))
    if pm.group("tval") is not None:
        return ("text_contains", pm.group("tval"))
    if pm.group("stval") is not None:
        return ("text_starts", pm.group("stval"))
    if pm.group("txval") is not None:
        return ("textnode_cmp", pm.group("txop"), pm.group("txval"))
    if pm.group("dotval") is not None:
        return ("strval_cmp", pm.group("dotop"), pm.group("dotval"))
    if pm.group("child"):
        return ("has_child", pm.group("child"))
    if pm.group("val") is not None:
        op = "attr_ne" if pm.group("aop") == "!=" else "attr_eq"
        return (op, pm.group("attr"), pm.group("val"))
    return ("attr", pm.group("attr"))


def _xp_parse_pred_body(body: str, expr: str) -> tuple:
    """Parse one bracket-group body into a boolean tree:
    ``or`` > ``and`` > ``not(...)`` > atom (XPath precedence)."""
    parts = _xp_split_bool(body, "or")
    if len(parts) > 1:
        return ("or", [_xp_parse_pred_body(p, expr) for p in parts])
    parts = _xp_split_bool(body, "and")
    if len(parts) > 1:
        return ("and", [_xp_parse_pred_body(p, expr) for p in parts])
    b = body.strip()
    if b.startswith("not(") and b.endswith(")"):
        inner = b[4:-1]
        # only treat as not(...) if the parens actually balance at -1
        # (guards against `not(@a) and contains(...)` mis-slicing —
        # that case is already split by the and-splitter above)
        depth = 0
        for ch in inner:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth < 0:
                    break
        if depth >= 0:
            return ("not", _xp_parse_pred_body(inner, expr))
    m = _XP_ATOM_RX.match(b)
    if not m or m.end() != len(b):
        raise ValueError(f"unsupported predicate {body!r} in {expr!r}")
    return _xp_parse_atom(m)


def _xp_parse(expr: str) -> list[tuple[str, str, str | None, list]]:
    """Parse ONE union branch into (sep, name, named_axis, preds) steps.

    Raises ValueError on anything outside the supported grammar — a
    silent empty match on unsupported syntax is the failure mode users
    porting lxml schemas actually hit.
    """
    branches = _xp_split_union(expr)
    if len(branches) > 1:
        raise ValueError(f"_xp_parse takes one union branch, got {expr!r}")
    e = expr.strip()
    if e.startswith("."):
        e = e[1:]
    if not e.startswith("/"):
        raise ValueError(f"unsupported xpath (must start with / or //): {expr!r}")
    steps, pos = [], 0
    while pos < len(e):
        m = _XP_STEP_RX.match(e, pos)
        if not m:
            raise ValueError(f"unsupported xpath syntax at {e[pos:]!r} in {expr!r}")
        sep, named_axis, name, raw_preds = m.groups()
        if name == "..":
            named_axis, name = "parent", "*"
        preds = []
        ppos = 0
        while ppos < len(raw_preds):
            bm = _XP_BRACKET_RX.match(raw_preds, ppos)
            if not bm:
                raise ValueError(
                    f"unsupported predicate {raw_preds!r} in {expr!r}")
            preds.append(_xp_parse_pred_body(bm.group(1), expr))
            ppos = bm.end()
        steps.append((sep, name, named_axis, preds))
        pos = m.end()
    return steps


def _xp_validate(expr: str) -> None:
    """Compile-check every union branch of an XPath expression."""
    for branch in _xp_split_union(expr):
        _xp_parse(branch)


def _xp_name_match(node: _Node, name: str) -> bool:
    return node.tag not in ("", "#root") and (name == "*" or node.tag == name)


_XP_CMP = {
    "=": lambda a, b: a == b,
    "!=": lambda a, b: a != b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
}


def _xp_normspace(s: str) -> str:
    return " ".join(s.split())


def _xp_eval_pred(p: tuple, node: _Node, idx: int, size: int) -> bool:
    """Evaluate one predicate tree against a node at 1-based position
    `idx` in an axis group of `size` nodes."""
    kind = p[0]
    if kind == "or":
        return any(_xp_eval_pred(c, node, idx, size) for c in p[1])
    if kind == "and":
        return all(_xp_eval_pred(c, node, idx, size) for c in p[1])
    if kind == "not":
        return not _xp_eval_pred(p[1], node, idx, size)
    if kind == "pos":
        return idx == p[1]
    if kind == "pos_last":
        return idx == size - p[1]
    if kind == "pos_last_cmp":
        eq = idx == size - p[2]
        return eq if p[1] == "=" else not eq
    if kind == "pos_cmp":
        return _XP_CMP[p[1]](idx, p[2])
    if kind == "count_cmp":
        cnt = sum(
            1 for c in node.children
            if c.tag not in ("", "#root") and (p[1] == "*" or c.tag == p[1])
        )
        return _XP_CMP[p[2]](cnt, p[3])
    if kind == "strlen_cmp":
        if p[1] is not None:
            v = node.attrs.get(p[1])
            if v is None:
                return False
        else:
            v = _xpath_text(node)
        return _XP_CMP[p[2]](len(v), p[3])
    if kind == "normspace":
        if p[1] is not None:
            v = node.attrs.get(p[1])
            if v is None:
                return False
        else:
            v = _xpath_text(node)
        eq = _xp_normspace(v) == p[3]
        return eq if p[2] == "=" else not eq
    if kind == "attr_eq":
        return node.attrs.get(p[1]) == p[2]
    if kind == "attr_ne":
        # XPath @a != 'v': attribute exists AND differs
        a = node.attrs.get(p[1])
        return a is not None and a != p[2]
    if kind == "attr_contains":
        a = node.attrs.get(p[1])
        return a is not None and p[2] in a
    if kind == "attr_starts":
        a = node.attrs.get(p[1])
        return a is not None and a.startswith(p[2])
    if kind == "text_contains":
        # string-value of the node (all descendant text)
        return p[1] in _xpath_text(node)
    if kind == "text_starts":
        return _xpath_text(node).startswith(p[1])
    if kind == "textnode_cmp":
        # node-set comparison: true if ANY direct text node satisfies it
        texts = [c.attrs.get("text", "") for c in node.children if c.tag == ""]
        if p[1] == "=":
            return any(t == p[2] for t in texts)
        return any(t != p[2] for t in texts)
    if kind == "strval_cmp":
        eq = _xpath_text(node) == p[2]
        return eq if p[1] == "=" else not eq
    if kind == "has_child":
        return any(c.tag == p[1] for c in node.children)
    # "attr" existence
    return p[1] in node.attrs


def _xp_apply_preds(group: list[_Node], preds: list) -> list[_Node]:
    """Apply bracket groups sequentially; each group re-indexes the
    survivors of the previous one (XPath: //a[@x][2] is the 2nd a
    *among those with @x*)."""
    out = group
    for p in preds:
        size = len(out)
        out = [
            n for i, n in enumerate(out, 1) if _xp_eval_pred(p, n, i, size)
        ]
    return out


def _xp_axis_group(
    node: _Node, axis: str, name: str, pmap: dict[int, _Node]
) -> list[_Node]:
    """Nodes on a named axis of `node`, in axis-native order (reverse
    axes nearest-first, so positional predicates count XPath-style:
    ``ancestor::*[1]`` is the nearest ancestor). Axes are scoped to the
    DOM handed to xpath_select — ancestors above an extraction base
    element are not visible (documented divergence from lxml, which
    sees the whole document)."""
    if axis == "parent":
        p = pmap.get(id(node))
        return [p] if p is not None and _xp_name_match(p, name) else []
    if axis == "self":
        return [node] if _xp_name_match(node, name) else []
    if axis == "child":
        return [c for c in node.children if _xp_name_match(c, name)]
    if axis == "descendant":
        return [
            d for d in _walk(node) if d is not node and _xp_name_match(d, name)
        ]
    if axis == "descendant-or-self":
        return [d for d in _walk(node) if _xp_name_match(d, name)]
    if axis in ("ancestor", "ancestor-or-self"):
        # reverse axes: nearest-first (self first for -or-self)
        out = []
        if axis == "ancestor-or-self" and _xp_name_match(node, name):
            out.append(node)
        p = pmap.get(id(node))
        while p is not None:
            if _xp_name_match(p, name):
                out.append(p)
            p = pmap.get(id(p))
        return out  # nearest-first
    # sibling axes
    parent = pmap.get(id(node))
    if parent is None:
        return []
    sibs = [c for c in parent.children if c.tag != ""]
    idx = next((i for i, c in enumerate(sibs) if c is node), None)
    if idx is None:
        return []
    if axis == "following-sibling":
        return [c for c in sibs[idx + 1:] if _xp_name_match(c, name)]
    # preceding-sibling: nearest-first (reverse document order)
    return [c for c in reversed(sibs[:idx]) if _xp_name_match(c, name)]


def xpath_select(root: _Node, expr: str):
    """Evaluate an XPath-subset expression.

    Returns a list of _Node, or a list of str when the final step is
    ``text()`` or ``@attr``. Positional predicates index within the
    per-parent sibling group (lxml/XPath semantics: ``//div/p[1]`` is
    the first p under EACH div). Supported beyond the r2 subset
    (reference accepts arbitrary lxml XPath,
    extraction_strategy.py:1612-1674): ``last()`` / ``last()-n``,
    ``position() op n``, ``contains()``/``starts-with()`` on
    attributes and on the node string-value, ``text()='v'`` /
    ``.='v'`` comparisons, ``normalize-space([.|@a])='v'``,
    ``count(name|*) op n``, ``string-length([.|@a]) op n``,
    boolean ``and``/``or``/``not(...)`` predicate expressions,
    ``[@a!='v']``, child-existence ``[name]`` predicates, the
    ``parent``/``..``, ``self``, ``child``, ``descendant[-or-self]``,
    ``ancestor[-or-self]``, ``following-sibling``,
    ``preceding-sibling`` axes, and top-level ``|`` unions (union
    results are first-seen deduped in branch order, not global
    document order — documented divergence). Everything else raises
    ValueError at compile time.
    """
    branches = _xp_split_union(expr)
    if len(branches) > 1:
        results = [xpath_select(root, b) for b in branches]
        kinds = {bool(r and not isinstance(r[0], _Node)) for r in results if r}
        if len(kinds) > 1:
            raise ValueError(f"union mixes node and text results: {expr!r}")
        out: list = []
        seen_ids: set[int] = set()
        for r in results:
            for item in r:
                if isinstance(item, _Node):
                    if id(item) not in seen_ids:
                        seen_ids.add(id(item))
                        out.append(item)
                else:
                    out.append(item)
        return out

    steps = _xp_parse(expr)
    pmap: dict[int, _Node] | None = None
    if any(s[2] is not None for s in steps):
        pmap = _parent_map(root)
    ctx: list[_Node] = [root]
    for i, (sep, name, named_axis, preds) in enumerate(steps):
        last = i == len(steps) - 1
        if name == "text()":
            if not last or preds or named_axis:
                raise ValueError(f"text() must be the final step: {expr!r}")
            out_s: list[str] = []
            for node in ctx:
                pool = _walk(node) if sep == "//" else node.children
                out_s.extend(n.attrs.get("text", "") for n in pool if n.tag == "")
            return out_s
        if name.startswith("@"):
            if not last or preds or named_axis:
                raise ValueError(f"@attr must be the final step: {expr!r}")
            attr = name[1:]
            vals = []
            for node in ctx:
                # '/@attr' reads the context element's own attribute;
                # '//@attr' is descendant-or-self (includes the context)
                pool = (
                    [n for n in _walk(node) if n.tag != ""]
                    if sep == "//" else [node]
                )
                for n in pool:
                    if attr in n.attrs and n.attrs[attr] is not None:
                        vals.append(n.attrs[attr])
            return vals
        new_ctx: list[_Node] = []
        seen: set[int] = set()
        for node in ctx:
            if named_axis is not None:
                # '//axis::x' expands to descendant-or-self::node()/axis::x
                pool = (
                    [n for n in _walk(node) if n.tag != ""]
                    if sep == "//" else [node]
                )
                groups = [
                    _xp_axis_group(n, named_axis, name, pmap) for n in pool
                ]
            elif sep == "/":
                groups = [[c for c in node.children if _xp_name_match(c, name)]]
            else:
                # descendant axis: positional predicates index within
                # each parent's sibling group, so group by parent
                by_parent: dict[int, list[_Node]] = {}
                order: list[int] = []
                # iterative preorder (depth-proof, see scrape._walk)
                wstack: list = [(node, iter(node.children))]
                while wstack:
                    parent, it = wstack[-1]
                    c = next(it, None)
                    if c is None:
                        wstack.pop()
                        continue
                    if c.tag == "":
                        continue
                    if _xp_name_match(c, name):
                        key = id(parent)
                        if key not in by_parent:
                            by_parent[key] = []
                            order.append(key)
                        by_parent[key].append(c)
                    wstack.append((c, iter(c.children)))
                # '//x' expands to descendant-or-self::node()/child::x —
                # the context node itself is never its own child
                groups = [by_parent[k] for k in order]
            for group in groups:
                for n in _xp_apply_preds(group, preds):
                    if id(n) not in seen:
                        seen.add(id(n))
                        new_ctx.append(n)
        ctx = new_ctx
    return ctx


def _xpath_text(node: _Node) -> str:
    """Reference XPath text semantics: ''.join(.//text()).strip()
    (extraction_strategy.py:1668-1669) — raw text nodes, outer strip."""
    return _text_content(node).strip()


def xpath_select_elements(root: _Node, selector: str) -> list[_Node]:
    """Selector dispatch mirroring the reference: '/'-containing
    selectors run as XPath; plain CSS falls back to the CSS engine
    (the reference converts CSS to XPath; same result set here)."""
    if "/" in selector:
        out = xpath_select(root, selector)
        if out and not isinstance(out[0], _Node):
            raise ValueError(
                f"selector yields text/attributes, not elements: {selector!r}"
            )
        return out  # type: ignore[return-value]
    return select_all(root, selector)


# ---------------------------------------------------------------------------
# schema-driven extraction
# ---------------------------------------------------------------------------


def _apply_transform(value, transform: str):
    if value is None:
        return None
    if transform == "lowercase":
        return value.lower()
    if transform == "uppercase":
        return value.upper()
    if transform == "strip":
        return value.strip()
    return value


# engine -> (element selector, element text) dispatch. XPath text is
# the reference's ''.join(.//text()).strip() (:1668); CSS text is the
# bs4-style per-node strip+join.
_ENGINES = {
    "css": (lambda root, sel: select_all(root, sel), lambda n: _text_strip(n)),
    "xpath": (
        lambda root, sel: xpath_select_elements(root, sel),
        lambda n: _xpath_text(n),
    ),
}


def _extract_single(element: _Node, field: dict, engine: str = "css"):
    sel_fn, text_fn = _ENGINES[engine]
    if "selector" in field:
        selected = sel_fn(element, field["selector"])
        if not selected:
            return field.get("default")
        selected = selected[0]
    else:
        selected = element
    ftype = field["type"]
    value = None
    if ftype == "text":
        value = text_fn(selected)
    elif ftype == "attribute":
        value = selected.attrs.get(field["attribute"])
    elif ftype == "html":
        value = outer_html(selected)
    elif ftype == "regex":
        m = re.search(field["pattern"], text_fn(selected))
        value = m.group(1) if m else None
    if "transform" in field:
        value = _apply_transform(value, field["transform"])
    return value if value is not None else field.get("default")


def _compute(item: dict, field: dict):
    # reference evals the expression over the item namespace
    # (extraction_strategy.py:1036-1044); restricted to no builtins
    try:
        if "expression" in field:
            return eval(field["expression"], {"__builtins__": {}}, dict(item))
    except Exception:
        return field.get("default")
    return field.get("default")


def _extract_item(element: _Node | None, fields: list[dict],
                  engine: str = "css") -> dict:
    item: dict = {}
    if element is None:
        return item
    for field in fields:
        if field["type"] == "computed":
            value = _compute(item, field)
        else:
            value = _extract_field(element, field, engine)
        if value is not None:
            item[field["name"]] = value
    return item


def _extract_field(element: _Node, field: dict, engine: str = "css"):
    sel_fn = _ENGINES[engine][0]
    try:
        if field["type"] == "nested":
            nested = sel_fn(element, field["selector"])
            return _extract_item(
                nested[0] if nested else None, field["fields"], engine
            )
        if field["type"] in ("list", "nested_list"):
            els = sel_fn(element, field["selector"])
            return [_extract_item(el, field["fields"], engine) for el in els]
        return _extract_single(element, field, engine)
    except Exception:
        return field.get("default")


def validate_schema(schema: dict, selector_type: str = "css") -> None:
    """Eagerly compile every selector in a {baseSelector, fields} schema.

    The reference accepts arbitrary lxml XPath
    (extraction_strategy.py:1612-1674); this engine covers the practical
    subset, so users porting schemas with unsupported axes/functions
    (``ancestor::``, ``contains()``, unions, …) must get an immediate
    ValueError — NOT silent empty output. Without this, the per-field
    runtime try/except (which mirrors the reference's per-field error
    fallback) would swallow the syntax error on every row.

    Called driver-side by :func:`schema_extract_stage` (fail fast before
    any executor work) and once per page by the scalar entry points.
    """
    def check(sel: str) -> None:
        if selector_type == "xpath" and "/" in sel:
            _xp_validate(sel)
        else:
            compile_selector(sel)

    def walk_fields(fields: list[dict]) -> None:
        for f in fields:
            sel = f.get("selector")
            if sel:
                check(sel)
            if f.get("fields"):
                walk_fields(f["fields"])

    check(schema["baseSelector"])
    walk_fields(schema.get("fields", []))
    walk_fields(schema.get("baseFields", []))


def _json_schema_extract(html: str | bytes | None, schema: dict,
                         engine: str, validate: bool = True) -> list[dict]:
    if validate:  # the stage validates ONCE driver-side and skips this
        validate_schema(schema, engine)
    if html is None:
        return []
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    root = parse_dom(html)
    sel_fn = _ENGINES[engine][0]
    out = []
    for base in sel_fn(root, schema["baseSelector"]):
        item = _extract_item(base, schema.get("fields", []), engine)
        for bf in schema.get("baseFields", []):
            # same per-field runtime fallback as _extract_field: a
            # regex without a capture group / missing 'attribute' key
            # must degrade to the field default, not crash the page
            try:
                value = _extract_single(base, bf, engine)
            except Exception:
                value = bf.get("default")
            if value is not None:
                item[bf["name"]] = value
        if item:
            out.append(item)
    return out


def json_css_extract(html: str | bytes | None, schema: dict) -> list[dict]:
    """Run a {baseSelector, baseFields?, fields} schema over one page."""
    return _json_schema_extract(html, schema, "css")


def json_xpath_extract(html: str | bytes | None, schema: dict) -> list[dict]:
    """JsonXPathExtractionStrategy parity: XPath selectors (CSS ones
    fall back through the CSS engine, mirroring _css_to_xpath)."""
    return _json_schema_extract(html, schema, "xpath")


def schema_extract_stage(df, html_col: str, schema: dict,
                         out_col: str = "extracted_content",
                         selector_type: str = "css"):
    """Append a JSON-string column of per-page schema extractions —
    one Arrow-batched mapInPandas, schema compiled once per executor.
    ``selector_type``: 'css' or 'xpath'."""
    if selector_type not in _ENGINES:
        raise ValueError(f"unknown selector_type {selector_type!r}")
    validate_schema(schema, selector_type)  # fail fast, on the driver
    in_schema = df.schema
    out_ddl = ", ".join(
        f.name + " " + f.dataType.simpleString() for f in in_schema.fields
    ) + f", {out_col} string"

    def process(batches):
        import pandas as pd

        for pdf in batches:
            vals = [
                json.dumps(
                    _json_schema_extract(
                        h, schema, selector_type, validate=False
                    ),
                    ensure_ascii=False,
                )
                for h in pdf[html_col]
            ]
            out = pdf.copy()
            out[out_col] = vals
            yield out

    return df.mapInPandas(process, schema=out_ddl)
