"""HTML parsing + XPath-subset kernel.

Re-implements, in pure Python, the exact observable behaviour of the
reference's HTML stack (permissive parse → sxpath query → re-serialize
matches as HTML strings):

- ``xpath`` (/root/reference/hypertext-browser/html/xpath.rkt:41-45):
  returns matched chunks re-serialized as HTML strings; list input recurses
  per element, flattening (xpath.rkt:44-45).
- ``xpath_text`` (xpath.rkt:47-49): for each match, join the text children of
  the match's element via the sub-query ``/*/text()``, then trim — empty
  nodes are preserved as ``""`` (contract xpath.rkt:21-24).  Note this takes
  only *direct* text children: ``xpath_text('<p><b>x</b></p>', '//p')`` is
  ``[""]`` in the reference, and here.
- ``links`` / ``links_text`` (html/links.rkt:33-43) including the golden
  ordering quirk (links.rkt:52 expects ``("fee" "foo")`` for html where
  ``foo`` appears first in document order): sxpath's ``//`` is SSAX
  ``node-closure``, a **breadth-first level-order** traversal, not document
  order. Our descendant axis is therefore BFS level-order.
- ``forms`` / ``form_fill`` (html/forms.rkt:46-85): action entity-decoded
  (``html_decode_star``), METHOD upcased defaulting to POST, fields from
  ``/form//input`` keyed by @name|@id with @value defaulting to "", user
  data wins via first-occurrence dedup (forms.rkt:50-53).
- ``html_decode`` / ``html_decode_star`` (html/html-entities.rkt:28-47): the
  table is **exactly four entities** (&amp; &#38; &#x3a; &#x2f;); the regexp
  is ``&[^;]*;``; unknown entities are left intact. Do NOT swap in
  ``html.unescape`` — it would break byte-identity with the reference.

Parser note — the pinned entity decision: the reference's third-party
``html->xexp`` decodes known entities in text and ``xexp->html`` re-encodes
them on serialization. This kernel keeps text and attribute values VERBATIM
in both directions, and applies the reference's 4-entity decode exactly
where the reference calls it explicitly (form actions via
``html_decode_star``, the public ``html-decode`` API). For ``&amp;``-class
entities the two round-trips agree byte-for-byte; for e.g. ``&#x2f;`` inside
element text they differ (reference: decoded to ``/``; here: verbatim) —
the deliberate trade is that one shared kernel (used by the oracle *and*
the Spark UDFs) makes extracted text byte-identical between them by
construction, which is the actual per-row invariant (BASELINE.json
``input_hint``). Pinned by golden vectors in tests/test_kernel_golden.py
("entity handling inside text nodes").
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

# ---------------------------------------------------------------- entities

_ENTITY_TABLE = {
    "&amp;": "&",
    "&#38;": "&",
    "&#x3a;": ":",
    "&#x2f;": "/",
}
_ENTITY_RE = re.compile(r"&[^;]*;")


def html_decode(html: str) -> str:
    """html-entities.rkt:35-41 — only the 4-entity table, others intact."""
    return _ENTITY_RE.sub(lambda m: _ENTITY_TABLE.get(m.group(0), m.group(0)), html)


def html_decode_star(html: str) -> str:
    """html-entities.rkt:43-47 — fixpoint iteration of html_decode."""
    while True:
        decoded = html_decode(html)
        if decoded == html:
            return html
        html = decoded


# ---------------------------------------------------------------- dom model


@dataclass
class Text:
    data: str


@dataclass
class Element:
    tag: str
    attrs: list[tuple[str, str]] = field(default_factory=list)
    children: list["Element | Text"] = field(default_factory=list)


Node = Element | Text

TOP = "*TOP*"

_VOID_TAGS = {
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr",
}

_TOKEN_RE = re.compile(
    r"<!--.*?-->"                                   # comment
    r"|<!\[CDATA\[.*?\]\]>"                         # cdata
    r"|<![^>]*>"                                    # doctype / decl
    r"|<\?[^>]*>"                                   # processing instruction
    r"|</\s*([a-zA-Z][a-zA-Z0-9:_-]*)\s*>"          # end tag   (group 1)
    r"|<([a-zA-Z][a-zA-Z0-9:_-]*)"                  # start tag (group 2)
    r"((?:\"[^\"]*\"|'[^']*'|[^>])*)"               # attrs     (group 3)
    r">",
    re.S,
)

_ATTR_RE = re.compile(
    r"([^\s=/>]+)(?:\s*=\s*(\"([^\"]*)\"|'([^']*)'|([^\s>]*)))?",
)


def _parse_attrs(raw: str) -> tuple[list[tuple[str, str]], bool]:
    self_closing = raw.rstrip().endswith("/")
    if self_closing:
        raw = raw.rstrip()[:-1]
    attrs: list[tuple[str, str]] = []
    for m in _ATTR_RE.finditer(raw):
        name = m.group(1).lower()
        if m.group(2) is None:
            val = name  # bare attribute, e.g. <input disabled>
        else:
            val = m.group(3) if m.group(3) is not None else (
                m.group(4) if m.group(4) is not None else m.group(5) or ""
            )
        attrs.append((name, val))
    return attrs, self_closing


def parse_html(html: str) -> Element:
    """Permissive parse to a tree rooted at an ``*TOP*`` element."""
    root = Element(TOP)
    stack: list[Element] = [root]
    pos = 0
    for m in _TOKEN_RE.finditer(html):
        if m.start() > pos:
            stack[-1].children.append(Text(html[pos : m.start()]))
        pos = m.end()
        end_tag, start_tag, attr_raw = m.group(1), m.group(2), m.group(3)
        if start_tag is not None:
            tag = start_tag.lower()
            attrs, self_closing = _parse_attrs(attr_raw or "")
            el = Element(tag, attrs)
            stack[-1].children.append(el)
            if not self_closing and tag not in _VOID_TAGS:
                stack.append(el)
        elif end_tag is not None:
            tag = end_tag.lower()
            for i in range(len(stack) - 1, 0, -1):
                if stack[i].tag == tag:
                    del stack[i:]
                    break
            # unmatched end tag: ignored (permissive)
    if pos < len(html):
        stack[-1].children.append(Text(html[pos:]))
    return root


def serialize(node: Node) -> str:
    """Serialize a node back to an HTML string (xexp->html analogue)."""
    if isinstance(node, Text):
        return node.data
    if node.tag == TOP:
        return "".join(serialize(c) for c in node.children)
    attrs = "".join(f' {k}="{v.replace(chr(34), "&quot;")}"' for k, v in node.attrs)
    if node.tag in _VOID_TAGS and not node.children:
        return f"<{node.tag}{attrs}>"
    inner = "".join(serialize(c) for c in node.children)
    return f"<{node.tag}{attrs}>{inner}</{node.tag}>"


# ---------------------------------------------------------------- xpath

# Supported grammar (the full surface used by the reference + its tests,
# plus the most-reached-for scraping forms: parent step `..`, `[last()]`,
# attribute-existence `[@attr]`, and the `following-sibling::` /
# `ancestor::` axes):
#   path      := '(' path ')[' INT ']' | alt
#   alt       := steps ('|' steps)*
#   steps     := ('/' | '//') step ( ('/' | '//') step )*
#   step      := test predicate* | '..'
#              | ('following-sibling::' | 'ancestor::') test predicate*
#                 (after '/' only; their test is NAME | '*' | 'text()' —
#                  fsib also matches text siblings; ancestor is elements)
#   test      := NAME | '*' | '@' NAME | 'text()'
#   predicate := '[' INT ']' | '[last()]' | '[@' NAME '=' QUOTED ']'
#              | '[@' NAME ']' | '[text() =? QUOTED]'
#              | '[position() OP INT]'
#              | '[contains(SUBJ, QUOTED)]' | '[starts-with(SUBJ, QUOTED)]'
#                 where SUBJ := '@' NAME | 'text()'


@dataclass
class _Step:
    axis: str  # "child" | "desc" | "fsib" | "anc"
    test: str  # tag name | "*" | "@name" | "text()"
    preds: list[tuple]


_GROUP_IDX_RE = re.compile(r"^\((.*)\)\s*\[(\d+)\]$", re.S)
_PRED_ATTR_RE = re.compile(r"^@([\w:-]+)\s*=\s*(?:'([^']*)'|\"([^\"]*)\")$")
_PRED_HAS_ATTR_RE = re.compile(r"^@([\w:-]+)$")
_PRED_TEXT_RE = re.compile(r"^text\(\)\s*=\s*(?:'([^']*)'|\"([^\"]*)\")$")
_PRED_POS_RE = re.compile(r"^position\(\)\s*(>=|<=|>|<|=)\s*(\d+)$")
_PRED_FN_RE = re.compile(
    r"^(contains|starts-with)\(\s*(@[\w:-]+|text\(\))\s*,\s*"
    r"(?:'([^']*)'|\"([^\"]*)\")\s*\)$"
)


def _split_top(s: str, sep: str) -> list[str]:
    """Split on *sep* at bracket/quote depth 0."""
    parts, depth, cur, q = [], 0, [], None
    for ch in s:
        if q:
            if ch == q:
                q = None
            cur.append(ch)
        elif ch in "'\"":
            q = ch
            cur.append(ch)
        elif ch in "([":
            depth += 1
            cur.append(ch)
        elif ch in ")]":
            depth -= 1
            cur.append(ch)
        elif ch == sep and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return parts


# The deliberate query-language boundary: the reference's sxpath accepts
# arbitrary SXPath expressions (hypertext-browser/html/xpath.rkt:41-45); this
# kernel implements the subset every reference test/program uses. Anything
# beyond it fails loudly with this message rather than silently matching
# nothing.
_XPATH_SUBSET = (
    "steps `/name` `//name` `/..` `/following-sibling::name` "
    "`/ancestor::name`, attribute step `@attr`, `text()`, "
    "predicates `[n]` `[last()]` `[@attr='value']` `[@attr]` "
    "`[text() = 'value']` `[position() op n]` "
    "`[contains(@attr|text(), 'v')]` `[starts-with(@attr|text(), 'v')]`, "
    "top-level union `a | b`"
)


def _parse_steps(path: str) -> list[_Step]:
    path = path.strip()
    steps: list[_Step] = []
    i = 0
    n = len(path)
    if not path.startswith("/"):
        path = "/" + path  # tolerate relative form
        n += 1
    while i < n:
        if path.startswith("//", i):
            axis, i = "desc", i + 2
        elif path.startswith("/", i):
            axis, i = "child", i + 1
        else:
            raise ValueError(
                f"bad xpath step at {i}: {path!r}. Supported subset: "
                f"{_XPATH_SUBSET}"
            )
        # read test + predicates up to next top-level '/'
        j = i
        depth = 0
        q = None
        while j < n:
            ch = path[j]
            if q:
                if ch == q:
                    q = None
            elif ch in "'\"":
                q = ch
            elif ch == "[":
                depth += 1
            elif ch == "]":
                depth -= 1
            elif ch == "/" and depth == 0:
                break
            j += 1
        chunk = path[i:j]
        i = j
        preds: list[tuple] = []
        # peel trailing [..] predicates
        test = chunk
        pred_strs: list[str] = []
        while test.endswith("]"):
            d = 0
            for k in range(len(test) - 1, -1, -1):
                if test[k] == "]":
                    d += 1
                elif test[k] == "[":
                    d -= 1
                    if d == 0:
                        pred_strs.insert(0, test[k + 1 : -1])
                        test = test[:k]
                        break
            else:
                break
        for p in pred_strs:
            p = p.strip()
            if p.isdigit():
                preds.append(("index", int(p)))
                continue
            if p == "last()":
                preds.append(("last",))
                continue
            m = _PRED_ATTR_RE.match(p)
            if m:
                preds.append(("attr", m.group(1).lower(), m.group(2) if m.group(2) is not None else m.group(3)))
                continue
            m = _PRED_HAS_ATTR_RE.match(p)
            if m:
                preds.append(("has_attr", m.group(1).lower()))
                continue
            m = _PRED_TEXT_RE.match(p)
            if m:
                preds.append(("text", m.group(1) if m.group(1) is not None else m.group(2)))
                continue
            m = _PRED_POS_RE.match(p)
            if m:
                preds.append(("pos", m.group(1), int(m.group(2))))
                continue
            m = _PRED_FN_RE.match(p)
            if m:
                needle = m.group(3) if m.group(3) is not None else m.group(4)
                subj = m.group(2)
                if subj != "text()":
                    subj = "@" + subj[1:].lower()
                preds.append(("fn", m.group(1), subj, needle))
                continue
            raise ValueError(
                f"unsupported xpath predicate: {p!r}. Supported subset: "
                f"{_XPATH_SUBSET}"
            )
        test = test.strip()
        if test == ".." and axis == "desc":
            raise ValueError(
                f"`//..` is not in the subset (use `/..`). Supported subset: "
                f"{_XPATH_SUBSET}"
            )
        for ax_name, ax_code in (
            ("following-sibling::", "fsib"), ("ancestor::", "anc")
        ):
            if test.startswith(ax_name):
                if axis == "desc":
                    raise ValueError(
                        f"`//{ax_name}…` is not in the subset (use "
                        f"`/{ax_name}…`). Supported subset: {_XPATH_SUBSET}"
                    )
                test = test[len(ax_name):].strip()
                if test.startswith("@") or (
                    ax_code == "anc" and test == "text()"
                ):
                    raise ValueError(
                        f"`{ax_name}{test}` is not in the subset (test must "
                        f"be a name, `*`"
                        + (" or `text()`" if ax_code == "fsib" else "")
                        + f"). Supported subset: {_XPATH_SUBSET}"
                    )
                axis = ax_code
                break
        else:
            if "::" in test:
                # any OTHER axis (preceding-sibling::, descendant-or-self::,
                # …) stays a loud boundary, not a silent tag-name miss
                raise ValueError(
                    f"axis {test.split('::')[0] + '::'!r} is not in the "
                    f"subset. Supported subset: {_XPATH_SUBSET}"
                )
        steps.append(_Step(axis, test, preds))
    return steps


def _attr_elements(el: Element) -> list[Element]:
    # sxpath models an attribute as a tiny element (name (value)); modelling
    # it the same way makes '@href/text()' work uniformly.
    return [Element(k, [], [Text(v)]) for k, v in el.attrs]


def _match_test(el_children: list[Node], ctx: Element, test: str) -> list[Node]:
    if test == "text()":
        return [c for c in el_children if isinstance(c, Text)]
    if test.startswith("@"):
        want = test[1:].lower()
        return [a for a in _attr_elements(ctx) if a.tag == want]
    if test == "*":
        return [c for c in el_children if isinstance(c, Element)]
    return [c for c in el_children if isinstance(c, Element) and c.tag == test]


def _apply_preds(nodes: list[Node], preds: list[tuple]) -> list[Node]:
    for p in preds:
        kind = p[0]
        if kind == "index":
            nodes = [nodes[p[1] - 1]] if len(nodes) >= p[1] else []
        elif kind == "last":
            nodes = nodes[-1:]
        elif kind == "has_attr":
            name = p[1]
            nodes = [
                nd for nd in nodes
                if isinstance(nd, Element) and any(k == name for k, _ in nd.attrs)
            ]
        elif kind == "pos":
            op, k = p[1], p[2]
            ops = {
                ">": lambda i: i > k, "<": lambda i: i < k,
                ">=": lambda i: i >= k, "<=": lambda i: i <= k,
                "=": lambda i: i == k,
            }[op]
            nodes = [nd for i, nd in enumerate(nodes, 1) if ops(i)]
        elif kind == "attr":
            _, name, val = p
            nodes = [
                nd for nd in nodes
                if isinstance(nd, Element) and any(k == name and v == val for k, v in nd.attrs)
            ]
        elif kind == "text":
            want = p[1]
            nodes = [
                nd for nd in nodes
                if isinstance(nd, Element)
                and any(isinstance(c, Text) and c.data == want for c in nd.children)
            ]
        elif kind == "fn":
            _, fn, subj, needle = p
            match = (
                (lambda s: needle in s) if fn == "contains"
                else (lambda s: s.startswith(needle))
            )

            def _hits(nd):
                # any-match semantics over the subject's values, consistent
                # with this kernel's `[text() = 'v']` (which matches if ANY
                # direct text child equals — XPath 1.0 proper would convert
                # the first node of the set)
                if not isinstance(nd, Element):
                    return False
                if subj == "text()":
                    vals = [
                        c.data for c in nd.children if isinstance(c, Text)
                    ]
                else:
                    name = subj[1:]
                    vals = [v for k, v in nd.attrs if k == name]
                return any(match(v) for v in vals)

            nodes = [nd for nd in nodes if _hits(nd)]
    return nodes


def _step_child(ctx: Element, step: _Step) -> list[Node]:
    return _apply_preds(_match_test(ctx.children, ctx, step.test), step.preds)


def _step_desc(ctx: Element, step: _Step) -> list[Node]:
    """SSAX node-closure: breadth-first level-order descendant collection.

    This (not document order) is what produces the reference's golden
    ``links`` ordering (html/links.rkt:49-52: '("fee" "foo")').
    """
    out: list[Node] = []
    level: list[Element] = [ctx]
    while level:
        for parent in level:
            out.extend(_step_child(parent, step))
        level = [
            c for parent in level for c in parent.children if isinstance(c, Element)
        ]
    return out


def _build_parents(node: Node, pm: dict[int, Element]) -> None:
    if isinstance(node, Element):
        for c in node.children:
            pm[id(c)] = node
            _build_parents(c, pm)


def _eval_steps(roots: list[Node], steps: list[_Step]) -> list[Node]:
    ctx: list[Node] = roots
    parent_map: dict[int, Element] | None = None

    def _parents():
        nonlocal parent_map
        if parent_map is None:
            parent_map = {}
            for r in roots:
                _build_parents(r, parent_map)
        return parent_map

    for step in steps:
        if step.axis == "fsib":
            # following-sibling:: — per context node: the parent's children
            # AFTER this node, filtered by the test; predicates number
            # within each context node's own sibling list (XPath proximity
            # order for a forward axis = document order). Synthetic @attr
            # nodes have no parent and drop out; duplicates across context
            # nodes dedupe in first-appearance order.
            pm = _parents()
            nxt, seen = [], set()
            for node in ctx:
                par = pm.get(id(node))
                if par is None:
                    continue
                idx = next(
                    i for i, c in enumerate(par.children) if c is node
                )
                after = par.children[idx + 1:]
                for m in _apply_preds(
                    _match_test(after, par, step.test), step.preds
                ):
                    if id(m) not in seen:
                        seen.add(id(m))
                        nxt.append(m)
            ctx = nxt
            continue
        if step.axis == "anc":
            # ancestor:: — per context node: the parent chain walked from
            # the NEAREST ancestor outward (XPath proximity order for a
            # reverse axis: [1] is the closest matching ancestor), the
            # synthetic document root excluded; predicates number within
            # each context node's own chain.
            pm = _parents()
            nxt, seen = [], set()
            for node in ctx:
                chain = []
                cur = node
                while True:
                    par = pm.get(id(cur))
                    if par is None:
                        break
                    if par.tag != TOP and (
                        step.test == "*" or par.tag == step.test
                    ):
                        chain.append(par)
                    cur = par
                for m in _apply_preds(chain, step.preds):
                    if id(m) not in seen:
                        seen.add(id(m))
                        nxt.append(m)
            ctx = nxt
            continue
        if step.test == "..":
            # parent step: lazily index child→parent once per query; the
            # node-set is deduped in first-appearance order (XPath parent
            # axis semantics). Predicates apply to the collected set.
            # Synthetic @attr nodes have no parent and drop out.
            if parent_map is None:
                parent_map = {}
                for r in roots:
                    _build_parents(r, parent_map)
            nxt, seen = [], set()
            for node in ctx:
                par = parent_map.get(id(node))
                if par is not None and id(par) not in seen:
                    seen.add(id(par))
                    nxt.append(par)
            ctx = _apply_preds(nxt, step.preds)
            continue
        nxt = []
        for node in ctx:
            if not isinstance(node, Element):
                continue
            if step.axis == "child":
                nxt.extend(_step_child(node, step))
            else:
                nxt.extend(_step_desc(node, step))
        ctx = nxt
    return ctx


from functools import lru_cache as _lru_cache


@_lru_cache(maxsize=256)
def _parse_cached(html: str) -> Element:
    # Hot path: one crawl batch applies several selectors to the same page;
    # the tree is never mutated by queries, so parses are shareable.
    return parse_html(html)


@_lru_cache(maxsize=1024)
def _steps_cached(alt: str):
    return _parse_steps(alt)


def xpath_nodes(html: str, query: str) -> list[Node]:
    query = query.strip()
    m = _GROUP_IDX_RE.match(query)
    group_idx: int | None = None
    if m:
        query, group_idx = m.group(1), int(m.group(2))
    root = _parse_cached(html)
    out: list[Node] = []
    for alt in _split_top(query, "|"):
        out.extend(_eval_steps([root], _steps_cached(alt)))
    if group_idx is not None:
        out = [out[group_idx - 1]] if len(out) >= group_idx else []
    return out


def xpath(html: str | list[str], query: str) -> list[str]:
    """xpath.rkt:41-45 — matches re-serialized as HTML strings; list input
    recurses per element, flattening."""
    if isinstance(html, list):
        out: list[str] = []
        for sub in html:
            out.extend(xpath(sub, query))
        return out
    return [
        n.data if isinstance(n, Text) else serialize(n)
        for n in xpath_nodes(html, query)
    ]


_TRIM_CHARS = " \t\n\r\f\v"


def xpath_text(html: str | list[str], query: str) -> list[str]:
    """xpath.rkt:47-49 — per match: join(direct text children) then trim;
    empty nodes preserved as ''.

    Fast path: the reference serializes each match back to HTML and
    re-parses it to apply ``/*/text()`` (xpath.rkt:43, 47-49); for Element
    matches that round trip is the identity, so the direct text children
    are read straight off the matched node (one parse per page instead of
    one per match). Non-Element matches keep the literal
    serialize-and-reparse semantics."""
    if isinstance(html, list):
        out: list[str] = []
        for sub in html:
            out.extend(xpath_text(sub, query))
        return out
    out = []
    for n in xpath_nodes(html, query):
        if isinstance(n, Element):
            out.append(
                "".join(
                    t.data for t in n.children if isinstance(t, Text)
                ).strip(_TRIM_CHARS)
            )
        else:
            match = n.data if isinstance(n, Text) else serialize(n)
            out.append("".join(xpath(match, "/*/text()")).strip(_TRIM_CHARS))
    return out


def xpath_first(html: str | list[str], query: str, default=None):
    """xpath.rkt:51-53."""
    nodes = xpath(html, query)
    return nodes[0] if nodes else default


# ---------------------------------------------------------------- links

def links(html: str, url_regex: str = ".") -> list[str]:
    """links.rkt:33-35 — hrefs (BFS order) matching *url_regex* (search)."""
    rx = re.compile(url_regex)
    return [u for u in xpath(html, "//a/@href/text()") if rx.search(u)]


def links_text(html: str, text_regex: str) -> list[str]:
    """links.rkt:37-43 — hrefs of <a> whose link text matches *text_regex*."""
    rx = re.compile(text_regex)
    out: list[str] = []
    for link in xpath(html, "//a"):
        if rx.search(xpath_first(link, "/a/text()", "")):
            href = xpath_first(link, "/a/@href/text()")
            if href is not None:
                out.append(href)
    return out


# ---------------------------------------------------------------- forms

Form = tuple[str, str, list[tuple[str, str]]]


def _car_or(lst: list, default):
    return lst[0] if lst else default


def form_fill(form: str | Form, data=()) -> Form:
    """forms.rkt:46-53 — fill a form (html string or already-extracted form)
    with *data*; user pairs win via first-occurrence dedup on key."""
    if isinstance(form, str):
        form = _form_to_list(form)
    action, method, fields = form
    data_pairs = list(data.items()) if isinstance(data, dict) else list(data)
    merged = data_pairs + list(fields)
    seen: set[str] = set()
    out: list[tuple[str, str]] = []
    for k, v in merged:
        if k not in seen:
            seen.add(k)
            out.append((k, v))
    return (action, method, out)


def forms(html: str | list[str], data=()) -> list[Form]:
    """forms.rkt:55-58 — extract every <form>, filled with *data*."""
    if isinstance(html, list):
        out: list[Form] = []
        for sub in html:
            out.extend(forms(sub, data))
        return out
    return [form_fill(f, data) for f in xpath(html, "//form")]


def _form_to_list(form_html: str) -> Form:
    action = html_decode_star(_car_or(xpath(form_html, "/form/@action/text()"), ""))
    method = _car_or(xpath(form_html, "/form/@method/text()"), "POST").upper()
    fields: list[tuple[str, str]] = []
    for inp in xpath(form_html, "/form//input"):
        name = xpath_nodes(inp, "/input/@name/text() | /input/@id/text()")
        if not name:
            continue
        value = _car_or(xpath(inp, "/input/@value/text()"), "")
        fields.append((name[0].data if isinstance(name[0], Text) else serialize(name[0]), value))
    return ("" if action is None else action, method, fields)


# ------------------------------------------------------- page-level kernel

def page_features(html: str) -> list:
    """One-parse page featurization for the fetch+extract hot path: the
    selectors a crawl round typically needs (title text, body text, link
    hrefs, token count) computed off a single shared parse (the lru parse
    cache makes the separate xpath calls below hit one tree)."""
    title = xpath_first(html, "//title/text()", "") or ""
    text = page_text(html)
    hrefs = links(html)
    return [title, text, len(hrefs), len(text.split())]


# token → 60-bit md5 hash, cached across pages: crawl corpora have Zipf
# vocabularies, so the per-distinct-token md5 of the simhash re-hashes the
# same words page after page. Bounded (clear-on-full) — executor-resident.
_TOKEN_H_CACHE: dict[str, int] = {}
_TOKEN_H_CACHE_MAX = 1 << 20


def _token_hash_60(tok: str) -> int:
    import hashlib

    h = _TOKEN_H_CACHE.get(tok)
    if h is None:
        if len(_TOKEN_H_CACHE) >= _TOKEN_H_CACHE_MAX:
            _TOKEN_H_CACHE.clear()
        h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
        _TOKEN_H_CACHE[tok] = h
    return h


_WS_RE = re.compile(r"\s+")
_TOKSPLIT_RE = re.compile(r"[^a-z0-9]+")
_TOKFIND_RE = re.compile(r"[a-z0-9]+")


def _ws_normalize(text: str) -> str:
    """``re.sub(r"\\s+", " ", text)`` computed with C-level split/join
    (same Unicode whitespace class per the `re` docs; ~3× faster on long
    texts). Interior runs collapse via join(split); a leading/trailing run
    becomes the single " " the regex leaves behind."""
    if not text:
        return text
    core = " ".join(text.split())
    if not core:  # all-whitespace: one \s+ run → one " "
        return " "
    pre = " " if text[0].isspace() else ""
    suf = " " if text[-1].isspace() else ""
    return pre + core + suf


def page_profile(html: str, minhash_perms: int = 4) -> list:
    """Full training-pipeline featurization of one page — what a crawl's
    fetch+extract stage computes per document in a dedup-oriented pipeline:
    title, extracted text, link count, token count, whitespace-normalized
    md5 fingerprint, 64-bit SimHash, and a MinHash signature over 3-gram
    word shingles (``minhash_perms`` salted md5 permutations).

    Hash math is VALUE-IDENTICAL to the round-1 scalar form (pinned by
    tests/test_kernel_golden.py::test_page_profile_scalar_parity) but
    vectorized: simhash bit-votes run in one numpy pass over cached
    per-token md5 hashes instead of a 60-iteration Python loop per token,
    and the minhash inner loop reuses pre-seeded md5 states (streaming
    property: md5(salt).copy().update(s) == md5(salt+s)) with one encode
    per shingle instead of one fresh concat+hash per (salt, shingle).
    Profiled at the 65 KB bench page weight: 7.3 → 2.6 ms/page."""
    import hashlib

    import numpy as np

    title, text, n_links, n_tokens = page_features(html)
    fingerprint = hashlib.md5(_ws_normalize(text).encode()).hexdigest()
    # findall(alnum-runs) == the non-empty pieces of split(non-alnum-runs)
    toks = _TOKFIND_RE.findall(text.lower())
    # simhash over distinct tokens (60-bit, md5-derived — the same
    # construction as the dedup_simhash query): votes[b] = ones - zeros =
    # 2·ones - n, bit set where votes > 0
    distinct = set(toks)
    if distinct:
        hs = np.fromiter(
            (_token_hash_60(t) for t in distinct), dtype=np.uint64,
            count=len(distinct),
        )
        shifts = np.arange(60, dtype=np.uint64)
        ones = ((hs[:, None] >> shifts) & 1).sum(axis=0, dtype=np.int64)
        mask = (2 * ones - len(hs)) > 0
        simhash = int((np.uint64(1) << shifts)[mask].sum(dtype=np.uint64))
    else:
        simhash = 0
    # minhash signature over 3-gram shingles; dedupe as TUPLES first (tuple
    # hashing beats building len(toks) join-strings to keep ~1% of them on
    # repetitive text), then join only the distinct ones
    shingles = {
        " ".join(t3) for t3 in set(zip(toks, toks[1:], toks[2:]))
    }
    if shingles:
        bases = [hashlib.md5(f"{p}:".encode()) for p in range(minhash_perms)]
        mins = [None] * minhash_perms
        ifb = int.from_bytes
        for s in shingles:
            e = s.encode()
            for p in range(minhash_perms):
                m = bases[p].copy()
                m.update(e)
                v = ifb(m.digest()[:8], "big")
                if mins[p] is None or v < mins[p]:
                    mins[p] = v
        sig = mins
    else:
        sig = [0] * minhash_perms
    return [title, text, n_links, n_tokens, fingerprint, simhash, sig]


def page_text(html: str) -> str:
    """THE canonical HTML→text extraction for the pages table's ``text``
    column: xpath/text over every <p>, newline-joined. Byte-identical between
    the oracle and the Spark UDFs because both call this function."""
    return "\n".join(xpath_text(html, "//p"))


def page_title(html: str) -> str:
    return xpath_first(html, "//title/text()", "") or ""


# ------------------------------------------------- boilerplate removal

# Main-content extraction (boilerplate removal) in the jusText /
# trafilatura family (Pomikálek 2011, "Removing boilerplate and duplicate
# content from web corpora"; both are public corpus-cleaning tools): prune
# chrome subtrees outright, segment the page into LEAF text blocks, and
# keep a block iff it is long enough and not link-dominated. Deterministic
# and dependency-free so the Spark UDF and the SQL oracle can agree on a
# closed form. Not in the reference (it stops at xpath/text extraction,
# html/xpath.rkt); this is the training-data-pipeline step downstream of
# the crawl.

_WS_RE = re.compile(r"\s+")

_PRUNE_TAGS = {
    "script", "style", "noscript", "template", "nav", "header", "footer",
    "aside", "form", "button", "select", "option", "svg", "iframe",
}

_BLOCK_TAGS = {
    "p", "li", "dd", "dt", "td", "th", "caption", "figcaption",
    "blockquote", "pre", "h1", "h2", "h3", "h4", "h5", "h6",
    "div", "section", "article", "main",
}


def _walk_block_text(node: Node, in_link: bool, parts: list[str],
                     counts: list[int]) -> None:
    if isinstance(node, Text):
        t = _WS_RE.sub(" ", node.data).strip()
        if t:
            parts.append(t)
            counts[0] += len(t)
            if in_link:
                counts[1] += len(t)
        return
    if node.tag in _PRUNE_TAGS:
        return
    for c in node.children:
        _walk_block_text(c, in_link or node.tag == "a", parts, counts)


def _has_block_descendant(el: Element) -> bool:
    for c in el.children:
        if isinstance(c, Element) and c.tag not in _PRUNE_TAGS:
            if c.tag in _BLOCK_TAGS or _has_block_descendant(c):
                return True
    return False


def main_text_blocks(html: str, min_chars: int = 25,
                     max_link_density: float = 0.4) -> list[str]:
    """Content blocks of *html* in document order, boilerplate removed.

    A LEAF block (an element in ``_BLOCK_TAGS`` with no block-tag
    descendant) survives iff its whitespace-collapsed text is at least
    *min_chars* long AND the fraction of that text living under ``<a>``
    is at most *max_link_density* (link-farm nav rows die here even when
    their container isn't a semantic ``<nav>``). Subtrees under
    ``_PRUNE_TAGS`` never contribute. Text hanging directly off a
    non-block container (``body`` prose outside any block) is not
    segmented — block segmentation is the jusText contract.
    """
    blocks: list[str] = []

    def visit(el: Element) -> None:
        if el.tag in _PRUNE_TAGS:
            return
        if el.tag in _BLOCK_TAGS and not _has_block_descendant(el):
            parts: list[str] = []
            counts = [0, 0]
            for c in el.children:
                _walk_block_text(c, False, parts, counts)
            total, link = counts
            if total >= min_chars and link <= max_link_density * total:
                blocks.append(" ".join(parts))
            return
        for c in el.children:
            if isinstance(c, Element):
                visit(c)

    visit(_parse_cached(html))
    return blocks


def main_text(html: str, min_chars: int = 25,
              max_link_density: float = 0.4) -> str:
    """Newline-joined :func:`main_text_blocks` — the document's main text."""
    return "\n".join(main_text_blocks(html, min_chars, max_link_density))
