"""The crawl-program AST — shared by the oracle interpreter and the Spark
engine compiler.

The reference expresses crawl programs as webs: trees whose head is a closure
built from one of 4 semantic constructors — navigate / extract / bind / jump
(/root/reference/boris/semantics.rkt:52-92) — with surface forms go / click /
submit (syntax/navigation.rkt:17-47), extract / extract-list
(syntax/extraction.rkt:17-28), let/web / for/web (syntax/binding.rkt:27-64),
label / recur (syntax/control.rkt:14-28), show / download (syntax/io.rkt:17-36).

Here a web is a declarative tree of :class:`Node` objects whose payloads are
:class:`Expr` trees (the "expression language" — the reference's selectors,
/root/reference/boris/selectors.rkt). Keeping the program declarative (no
opaque lambdas) is what lets the Spark engine compile it to per-round
DataFrame jobs while the oracle interprets it depth-first exactly like the
reference interpreter (/root/reference/boris/interpreter.rkt:54-59).

Expressions evaluate against an :class:`EvalCtx` of (body, url, bindings) —
mirroring the dynamic parameters current-document / current-parameters
(/root/reference/boris/syntax/state.rkt:5-9).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from typing import Any

from ..kernel import htmlkit

# ------------------------------------------------------------- expressions


@dataclass
class EvalCtx:
    body: str = ""
    url: str | None = None
    bindings: dict[str, Any] = field(default_factory=dict)
    # response head: (status-line string, [(Name, value), ...]). File-style
    # fetches (the snapshot modes) have empty status/head exactly like the
    # reference's file requests (/root/reference/hypertext-browser/file.rkt:38-47);
    # live HTTP carries the real status line + header alist.
    head: tuple[str, list] | None = None
    # originating request metadata (previous-request, selectors.rkt:29-30)
    method: str = "GET"


class Expr:
    def eval(self, ctx: EvalCtx) -> Any:  # pragma: no cover - abstract
        raise NotImplementedError


@dataclass
class Lit(Expr):
    value: Any

    def eval(self, ctx):
        return self.value


@dataclass
class Var(Expr):
    """selectors.rkt:32-33 — binding lookup."""
    name: str

    def eval(self, ctx):
        return ctx.bindings[self.name]


@dataclass
class Body(Expr):
    """selectors.rkt:23-24 — text of the current page."""

    def eval(self, ctx):
        return ctx.body


@dataclass
class UrlE(Expr):
    """selectors.rkt:26-27 — current url."""

    def eval(self, ctx):
        return ctx.url


@dataclass
class HeadE(Expr):
    """selectors.rkt:19-21 — cons(response status, header alist). Presented
    as [status_line, [name, value], ...]. Empty status/head for file-style
    (snapshot) fetches, per the reference's file.rkt:38-47."""

    def eval(self, ctx):
        status, pairs = ctx.head if ctx.head is not None else ("", [])
        return [status, *[[k, v] for k, v in pairs]]


@dataclass
class PrevRequestE(Expr):
    """selectors.rkt:29-30 — the request for the current page, presented as
    [method, absolute_url] (the reference returns the request struct; its
    url and method are what crawl programs consume)."""

    def eval(self, ctx):
        return [ctx.method or "GET", ctx.url]


@dataclass
class XpathE(Expr):
    """selectors.rkt:39-40 — xpath over current page (or *input*)."""
    query: str
    input: Expr | None = None

    def eval(self, ctx):
        html = ctx.body if self.input is None else self.input.eval(ctx)
        return htmlkit.xpath(html, self.query)


@dataclass
class XpathTextE(Expr):
    query: str
    input: Expr | None = None

    def eval(self, ctx):
        html = ctx.body if self.input is None else self.input.eval(ctx)
        return htmlkit.xpath_text(html, self.query)


@dataclass
class XpathFirstE(Expr):
    query: str
    default: Any = None
    input: Expr | None = None

    def eval(self, ctx):
        html = ctx.body if self.input is None else self.input.eval(ctx)
        return htmlkit.xpath_first(html, self.query, self.default)


@dataclass
class LinksE(Expr):
    """selectors.rkt:57-58."""
    url_regex: str = "."
    input: Expr | None = None

    def eval(self, ctx):
        html = ctx.body if self.input is None else self.input.eval(ctx)
        return htmlkit.links(html, self.url_regex)


@dataclass
class LinksTextE(Expr):
    text_regex: str
    input: Expr | None = None

    def eval(self, ctx):
        html = ctx.body if self.input is None else self.input.eval(ctx)
        return htmlkit.links_text(html, self.text_regex)


@dataclass
class FormsE(Expr):
    """selectors.rkt forms — extract+fill forms from current page."""
    data: list[tuple[str, Expr]] = field(default_factory=list)
    input: Expr | None = None

    def eval(self, ctx):
        html = ctx.body if self.input is None else self.input.eval(ctx)
        return htmlkit.forms(html, [(k, v.eval(ctx)) for k, v in self.data])


@dataclass
class Fmt(Expr):
    """``(format "~a: ~a" ...)`` analogue: str.format over evaluated args."""
    template: str
    args: list[Expr] = field(default_factory=list)

    def eval(self, ctx):
        return self.template.format(*[a.eval(ctx) for a in self.args])


@dataclass
class Concat(Expr):
    parts: list[Expr] = field(default_factory=list)

    def eval(self, ctx):
        return "".join(str(p.eval(ctx)) for p in self.parts)


@dataclass
class Add(Expr):
    a: Expr
    b: Expr

    def eval(self, ctx):
        return int(self.a.eval(ctx)) + int(self.b.eval(ctx))


@dataclass
class Cmp(Expr):
    op: str  # '<' '>' '<=' '>=' '=='
    a: Expr
    b: Expr

    def eval(self, ctx):
        a, b = self.a.eval(ctx), self.b.eval(ctx)
        return {
            "<": a < b, ">": a > b, "<=": a <= b, ">=": a >= b, "==": a == b,
        }[self.op]


@dataclass
class RxSearch(Expr):
    """``regexp-match`` truthiness (search, not full match)."""
    regex: str
    e: Expr

    def eval(self, ctx):
        return re.search(self.regex, str(self.e.eval(ctx))) is not None


@dataclass
class When(Expr):
    """Racket ``when``: value if condition truthy, else None (suppressed by
    extract, browser-services.rkt:50-53; empty navigation prunes)."""
    cond: Expr
    then: Expr

    def eval(self, ctx):
        return self.then.eval(ctx) if self.cond.eval(ctx) else None


@dataclass
class IfE(Expr):
    cond: Expr
    then: Expr
    otherwise: Expr

    def eval(self, ctx):
        return self.then.eval(ctx) if self.cond.eval(ctx) else self.otherwise.eval(ctx)


@dataclass
class First(Expr):
    e: Expr

    def eval(self, ctx):
        v = self.e.eval(ctx)
        return v[0] if v else None


@dataclass
class PageFeaturesE(Expr):
    """One-parse featurization of the current page (title, text, n_links,
    n_tokens)."""

    def eval(self, ctx):
        return htmlkit.page_features(ctx.body)


@dataclass
class PageProfileE(Expr):
    """Full dedup-pipeline featurization (title, text, links, tokens,
    fingerprint, simhash, minhash signature) — the crawl bench's
    fetch+extract payload."""
    minhash_perms: int = 4

    def eval(self, ctx):
        return htmlkit.page_profile(ctx.body, self.minhash_perms)


@dataclass
class ListE(Expr):
    """Evaluate each item; the fly value is the list itself."""
    items: list[Expr] = field(default_factory=list)

    def eval(self, ctx):
        return [i.eval(ctx) for i in self.items]


def ensure_list(v: Any) -> list:
    """``->list`` (utils/emd/emd.rkt:28-33) with None/False → [] pruning
    (doc quickstart.scrbl:49: conditional crawl — empty prunes)."""
    if v is None or v is False:
        return []
    if isinstance(v, list):
        return v
    return [v]


# ------------------------------------------------------------------ nodes


class Node:
    """One program node. ``children`` are the sub-webs run per next-state
    (interpreter.rkt:57-58)."""

    children: tuple["Node", ...]
    node_id: int = -1

    def __init__(self, *children: Node):
        self.children = children


class Go(Node):
    """go (syntax/navigation.rkt:17-25): fetch each url in the evaluated
    list (strings auto-promoted to singleton)."""

    def __init__(self, urls: Expr | str | list, *children: Node):
        super().__init__(*children)
        if isinstance(urls, (str, list)):
            urls = Lit(urls)
        self.urls = urls


class Click(Go):
    """click (navigation.rkt:28-36): go + Referer from current page."""


class Submit(Node):
    """submit (navigation.rkt:39-47): POST each form (action method fields)."""

    def __init__(self, forms_expr: Expr, *children: Node):
        super().__init__(*children)
        self.forms_expr = forms_expr


class Extract(Node):
    """extract (syntax/extraction.rkt:17-21): yield a single value; node
    returns '() so nothing runs below it (semantics.rkt:61-66)."""

    def __init__(self, value: Expr):
        super().__init__()
        self.value = value


class ExtractList(Node):
    """extract/list (extraction.rkt:24-28): yield each element in order."""

    def __init__(self, values: Expr):
        super().__init__()
        self.values = values


class LetWeb(Node):
    """let/web (syntax/binding.rkt:36-47): bind ids to single values."""

    def __init__(self, bindings: list[tuple[str, Expr]], *children: Node):
        super().__init__(*children)
        self.bindings = bindings


class ForWeb(Node):
    """for/web (binding.rkt:27-33): bind ids to value lists; multi-clause
    iteration is ZIPPED (Racket for/fold parallel clauses), one new state per
    binding set."""

    def __init__(self, bindings: list[tuple[str, Expr]], *children: Node):
        super().__init__(*children)
        self.bindings = bindings


class Label(Node):
    """label (syntax/control.rkt:14-20): bind the current web position
    (label node inclusive) to *name* in the environment."""

    def __init__(self, name: str, *children: Node):
        super().__init__(*children)
        self.name = name


class Recur(Node):
    """recur (control.rkt:22-28): jump to the web bound to *name*. The
    jumped-to web's head (the label's bind) is NOT re-run — the interpreter
    recurses into its children (interpreter.rkt:58 takes cdr). recur's own
    syntactic body is dead code in the reference; we don't accept one."""

    def __init__(self, name: str):
        super().__init__()
        self.name = name


class Show(Node):
    """show (syntax/io.rkt:17-24): debug-print, pass state through."""

    def __init__(self, msg: Expr, *children: Node):
        super().__init__(*children)
        self.msg = msg


class Download(Node):
    """download (io.rkt:27-36): sink current body, prune branch."""

    def __init__(self, name_expr: Expr | None = None):
        super().__init__()
        self.name_expr = name_expr


# ------------------------------------------------------------- compilation


def assign_ids(root: Node) -> dict[int, Node]:
    """Preorder id assignment; returns id → node."""
    table: dict[int, Node] = {}

    def walk(n: Node):
        n.node_id = len(table)
        table[n.node_id] = n
        for c in n.children:
            walk(c)

    walk(root)
    return table


# ------------------------------------------------------------- path keys

def path_key_hex(path: tuple[int, ...]) -> str:
    # components < 2^32, fixed width → string lex == tuple lex
    return "".join(f"{c:08x}" for c in path)


# --------------------------------------------------- binding serialization

LABEL_PREFIX = "\x00label:"  # label bindings share the namespace (control.rkt:17-19)


def bindings_to_json(b: dict[str, Any]) -> str:
    return json.dumps(b, sort_keys=True, separators=(",", ":"))


def bindings_from_json(s: str | None) -> dict[str, Any]:
    return json.loads(s) if s else {}
