"""Arrow-batched executor-side program evaluation.

The ``mapInPandas`` functions here hold a page and evaluate every non-fetch
program node on it to fixpoint (``eval_to_fixpoint`` — the reference's
per-branch closure application, /root/reference/boris/semantics.rkt:52-92,
and interpreter.rkt:54-59, which applies let/for/label/recur/show to the
page it already holds). Output is a single union schema split by ``kind``
on the JVM side:

- ``request``  → a navigate fan-out (semantics.rkt:52-57): resolved +
  canonicalized + hashed target, path extended with the fan-out index;
- ``result``   → an extraction fly (semantics.rkt:61-66), #f/void suppressed
  (browser-services.rkt:50-53);
- ``download`` → a body sink row (syntax/io.rkt:27-36);
- ``memo``     → an eval-output cache row (``_emit_memo``).

All string work (xpath/links/forms/canonicalize/hash) is the shared pure
kernel — identical bytes to the oracle by construction.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from typing import Any

import pandas as pd

from ..kernel import host_of, resolve2, url_hash
from ..oracle import program as P
from .compiler import NodeSpec

# every evaluation output row, as (column, arrow type); the kind column
# becomes the hive partition of the round's single output write
_OUT_COLS = (
    ("kind", "string"), ("pc", "int64"), ("cur_url", "string"),
    ("bindings", "string"), ("path_key", "string"), ("url_canon", "string"),
    ("url_full", "string"), ("url_hash", "int64"), ("host", "string"),
    ("referer", "string"), ("method", "string"), ("payload", "string"),
    ("value", "string"), ("vkind", "string"), ("cookies", "string"),
    # memo columns (kind='memo' rows — the eval-output cache that lets later
    # rounds replay a cached url as a pure JVM join, see make_fused_fn):
    # mk = the output row's real kind ('request'/'result', or 'mark' for the
    # state-evaluated marker), mk_* = the INPUT-state key the outputs were
    # computed under (parent pc, full url, bindings, method, pre-fold jar)
    ("mk", "string"), ("mk_pc", "int64"), ("mk_full", "string"),
    ("mk_method", "string"), ("mk_bindings", "string"),
    ("mk_cookies", "string"),
)
_COLS = [c for c, _ in _OUT_COLS]
_INT_COLS = tuple(c for c, t in _OUT_COLS if t == "int64")
CASCADE_SCHEMA = ", ".join(
    f"{c} {'long' if t == 'int64' else t}" for c, t in _OUT_COLS
)

# programs built only from these node kinds have outputs that are a pure
# function of (pc, url, url_full, bindings, method, cookies) with
# path_key = input_path + constant_suffix and NO body-carrying or
# nested-state outputs — exactly the class whose cache-hit replays can
# run as a JVM join against the memo sink instead of re-evaluating bodies
# in Python (let/for/label/recur/show evaluate nested states in place and
# download emits the body itself, so they take the batched Python replay)
MEMO_JOINABLE_KINDS = frozenset(
    {"go", "click", "submit", "extract", "extract_list"}
)


def _hx(i: int) -> str:
    return f"{i:08x}"


def _out_row(kind: str, **kw) -> dict:
    row = dict.fromkeys(_COLS)
    row["kind"] = kind
    row.update(kw)
    return row


def encode_value(v: Any) -> str:
    """Canonical json encoding of fly values (shared with parity tests)."""
    return json.dumps(v, sort_keys=True, separators=(",", ":"), ensure_ascii=False)


def _eval_node(
    node_table: dict[int, NodeSpec],
    pc: int,
    cur_url: str | None,
    cur_full: str | None,
    body: str,
    bindings_json: str | None,
    path: str,
    out: list[dict],
    head: tuple | None = None,
    method: str = "GET",
    cookies_json: str | None = None,
) -> None:
    spec = node_table[pc]
    bindings = P.bindings_from_json(bindings_json)
    base = cur_full or cur_url
    ctx = P.EvalCtx(body or "", base, bindings, head=head, method=method)
    kind = spec.kind

    if kind in ("go", "click"):
        urls = P.ensure_list(spec.urls.eval(ctx))
        for i, u in enumerate(urls):
            canon, full = resolve2(base, str(u))
            out.append(_out_row(
                "request", pc=pc, bindings=bindings_json,
                path_key=path + _hx(i), url_canon=canon, url_full=full,
                url_hash=url_hash(canon), host=host_of(canon),
                referer=cur_url if kind == "click" else None, method="GET",
                cookies=cookies_json,
            ))
    elif kind == "submit":
        forms = P.ensure_list(spec.forms_expr.eval(ctx))
        for i, (action, _method, fields) in enumerate(forms):
            canon, full = resolve2(base, str(action))
            out.append(_out_row(
                "request", pc=pc, bindings=bindings_json,
                path_key=path + _hx(i), url_canon=canon, url_full=full,
                url_hash=url_hash(canon), host=host_of(canon),
                referer=cur_url, method="POST",
                payload=encode_value([list(f) for f in fields]),
                cookies=cookies_json,
            ))
    elif kind in ("extract", "extract_list"):
        v = spec.value.eval(ctx)
        values = [v] if kind == "extract" else P.ensure_list(v)
        for k, val in enumerate(values):
            if val is None or val is False:  # browser-services.rkt:50-53
                continue
            out.append(_out_row(
                "result", pc=pc, path_key=path + _hx(k),
                value=encode_value(val), vkind=type(val).__name__,
            ))
    elif kind in ("let", "for"):
        if kind == "let":
            sets = [{k: e.eval(ctx) for k, e in spec.bindings}]
        else:
            lists = [(k, P.ensure_list(e.eval(ctx))) for k, e in spec.bindings]
            n = min((len(v) for _, v in lists), default=0)
            sets = [{k: v[i] for k, v in lists} for i in range(n)]
        for i, bset in enumerate(sets):
            nb = P.bindings_to_json({**bindings, **bset})
            for j, child in enumerate(spec.child_ids):
                out.append(_out_row(
                    "apply", pc=child, bindings=nb,
                    path_key=path + _hx(i) + _hx(j),
                ))
    elif kind == "label":
        nb = P.bindings_to_json({**bindings, P.LABEL_PREFIX + spec.name: pc})
        for j, child in enumerate(spec.child_ids):
            out.append(_out_row(
                "apply", pc=child, bindings=nb, path_key=path + _hx(0) + _hx(j),
            ))
    elif kind == "recur":
        target = node_table[int(bindings[P.LABEL_PREFIX + spec.name])]
        for j, child in enumerate(target.child_ids):
            out.append(_out_row(
                "apply", pc=child, bindings=bindings_json,
                path_key=path + _hx(0) + _hx(j),
            ))
    elif kind == "show":
        if spec.value is not None:
            spec.value.eval(ctx)  # effect parity only
        for j, child in enumerate(spec.child_ids):
            out.append(_out_row(
                "apply", pc=child, bindings=bindings_json,
                path_key=path + _hx(0) + _hx(j),
            ))
    elif kind == "download":
        out.append(_out_row(
            "download", pc=pc, cur_url=cur_url, path_key=path,
            value=body or "",
        ))
    else:  # pragma: no cover
        raise ValueError(f"unknown node kind {kind}")


# deepest chain of nested states one page may evaluate in place: a
# fetch-free label/recur loop would otherwise never return
_MAX_DEPTH = 200


def eval_to_fixpoint(
    node_table: dict[int, NodeSpec],
    pc: int,
    cur_url: str | None,
    cur_full: str | None,
    body: str,
    bindings_json: str | None,
    out: list[dict],
    head: tuple | None = None,
    method: str = "GET",
    cookies_json: str | None = None,
    depth: int = 0,
) -> None:
    """Evaluate node *pc* on the page in hand, then every next state it
    emits (let/for/label/recur/show ``apply`` rows) in place — same body,
    head, method and jar, that row's bindings and path prefix — until
    only request/result/download rows remain (interpreter.rkt:54-59: a
    non-fetch node applies to the page the branch already holds). Path
    keys appended to *out* are relative to this state's path; order lives
    in them, so nesting cannot reorder anything."""
    if depth > _MAX_DEPTH:
        raise RuntimeError("cascade depth exceeded (fetch-free recur loop?)")
    rows: list[dict] = []
    _eval_node(
        node_table, pc, cur_url, cur_full, body, bindings_json, "", rows,
        head=head, method=method, cookies_json=cookies_json,
    )
    for r in rows:
        if r["kind"] != "apply":
            out.append(r)
            continue
        start = len(out)
        eval_to_fixpoint(
            node_table, r["pc"], cur_url, cur_full, body, r["bindings"],
            out, head=head, method=method, cookies_json=cookies_json,
            depth=depth + 1,
        )
        for o in out[start:]:
            o["path_key"] = r["path_key"] + o["path_key"]


# worker-written sink files: (column, arrow type) in the sink schema's
# order (crawler.py STORE_SCHEMA / SEEN_SCHEMA)
_STORE_FILE_COLS = (
    ("url_canon", "string"), ("body", "string"), ("status", "int32"),
    ("head", "string"),
)
_SEEN_FILE_COLS = (
    ("url_hash", "int64"), ("url_canon", "string"), ("host", "string"),
    ("bucket", "int32"), ("status", "int32"), ("path_first", "string"),
)


def _write_batch(
    out_dir: str, cols: tuple, rows: list[tuple], batch_idx: int
) -> None:
    """Worker-side sink write: one parquet file per (partition, batch),
    *cols* columns, snappy. tmp-name + ``os.replace`` makes task retries
    atomic; names are deterministic in (partitionId, batch index) — a
    re-run attempt overwrites with byte-identical content, so
    last-writer-wins is consistent. The engine adopts the directory as the
    round's sink delta without rewriting a byte (Iceberg add_files)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark import TaskContext

    tc = TaskContext.get()
    pid = tc.partitionId() if tc is not None else 0
    os.makedirs(out_dir, exist_ok=True)
    name = f"part-{pid:05d}-{batch_idx:04d}.parquet"
    tmp = os.path.join(out_dir, f".{name}.tmp-{os.getpid()}")
    tbl = pa.table({
        c: pa.array([r[i] for r in rows], pa.type_for_alias(t))
        for i, (c, t) in enumerate(cols)
    })
    pq.write_table(tbl, tmp, compression="snappy")
    os.replace(tmp, os.path.join(out_dir, name))


def write_by_kind(out_dir: str, out: list[dict]) -> None:
    """Driver-side twin of the rounds' ``partitionBy("kind")`` output
    write: *out*'s rows as one parquet file per ``kind=`` subdirectory of
    *out_dir*, with the output columns' exact types (the sinks that adopt
    these files mix them with Spark-written ones)."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    by_kind: dict[str, list[tuple]] = {}
    for r in out:
        by_kind.setdefault(r["kind"], []).append(
            tuple(r[c] for c, _ in _OUT_COLS[1:])
        )
    for kind, rows in by_kind.items():
        _write_batch(
            os.path.join(out_dir, f"kind={kind}"), _OUT_COLS[1:], rows, 0
        )


def _frame(out: list[dict]) -> pd.DataFrame:
    """Build the output batch WITHOUT float64 inference: a mixed
    int/None column (e.g. url_hash on request rows vs result rows) would
    otherwise be inferred as float64, silently truncating 64-bit hashes to
    the 53-bit double mantissa — which breaks the (url_hash, url_canon)
    seen anti-join and refetches already-seen URLs."""
    if not out:
        return pd.DataFrame({c: [] for c in _COLS})
    return pd.DataFrame({
        c: (
            pd.array([r[c] for r in out], dtype="Int64")
            if c in _INT_COLS
            else [r[c] for r in out]
        )
        for c in _COLS
    })


def _eval_memo(
    memo: dict,
    key: tuple,
    node_table: dict[int, NodeSpec],
    pc: int,
    cur_url,
    cur_full,
    body: str,
    bindings_json,
    path: str,
    out: list[dict],
    head: tuple | None = None,
    method: str = "GET",
    cookies_json: str | None = None,
) -> None:
    """Evaluate a node to fixpoint (``eval_to_fixpoint``) once per (pc,
    url, cur_full, bindings) and replay the cached output rows for every
    further path that reaches the same state — exact because evaluation is
    a pure function of that key (+ the body, itself a function of the url
    within a round) and every emitted path is
    ``input_path + constant_suffix``. Callers keep rows of one url
    consecutive (sortWithinPartitions) and clear the memo on url change, so
    memory stays O(paths-per-url). The reference evaluates per crawl branch
    (interpreter.rkt:54-59); values are identical by purity, this just
    skips recomputing them."""
    ent = memo.get(key)
    if ent is None:
        ent = []
        eval_to_fixpoint(
            node_table, pc, cur_url, cur_full, body, bindings_json, ent,
            head=head, method=method, cookies_json=cookies_json,
        )
        memo[key] = ent
    for r in ent:
        r2 = dict(r)
        r2["path_key"] = path + r["path_key"]
        out.append(r2)


def _emit_memo(
    out: list[dict], row_start: int, path: str, memo_states: set,
    url: str, skey: tuple,
) -> None:
    """Eval-output cache: once per distinct input state *skey* = (pc,
    url_full, bindings, method, pre-fold jar) per url, duplicate the
    state's outputs ``out[row_start:]`` as ``kind='memo'`` rows with
    suffix-only paths + the state key — the memo sink later rounds JOIN
    against (JVM concat of path prefixes) instead of re-running the page
    through Python per replay branch. The 'mark' row records states with
    ZERO outputs, so a join miss means "state never evaluated", not "state
    evaluated to nothing"."""
    if skey in memo_states:
        return
    memo_states.add(skey)
    pc, url_full, bindings_json, method, cj_in = skey
    n_out = len(out)
    mk_kw = dict(
        cur_url=url, mk_pc=pc, mk_full=url_full, mk_method=method,
        mk_bindings=bindings_json, mk_cookies=cj_in,
    )
    out.append(_out_row("memo", mk="mark", **mk_kw))
    for r in out[row_start:n_out]:
        m = dict(r)
        m["kind"] = "memo"
        m["mk"] = r["kind"]
        m["path_key"] = r["path_key"][len(path):]
        m.update(mk_kw)
        out.append(m)


def make_fused_fn(
    node_table: dict[int, NodeSpec],
    fetch_fn,
    store_dir: str | None,
    seen_dir: str,
    n_buckets: int,
    emit_memo: bool = False,
):
    """Fused fetch+extract: ONE mapInPandas stage per crawl round.

    Input rows are the round's FRESH request rows only (REQUEST cols) —
    cache hits and robots-blocked replays take the store-sink replay path in
    the crawler instead (they never reach fetch_fn, so a live fetcher is
    called exactly once per url per crawl and the per-host politeness budget
    is never bypassed — the memoized replay of browser-services.rkt:36-40).
    ``fetch_fn(urls: list[str]) -> list[(body, status[, head])]`` (head =
    (status line, header alist); without one, file-style) is the
    pluggable fetcher (the reference's swappable request service,
    /root/reference/boris/interpreter/services.rkt:14-15) — a deterministic
    closed-form page function in the bench, ``fetch.make_http_fetch_fn``
    for live HTTP. Extra inputs are declared by parameter NAME, never by
    arity (which would feed them into an unrelated optional parameter,
    e.g. batch_size=100): ``cookie_headers`` gets each url's Cookie header
    value, ``requests`` each url's ``(url_full, method, payload,
    cookies_json)`` — both taken from the url's DFS-min request row (the
    branch the reference would fetch with first; later branches replay the
    memoized response with their own jars). With ``fetch_fn=None`` the
    responses arrive IN-BAND instead (the pages-table snapshot): each url's
    single page row (``_src=0``, ``body``) leads its request rows
    (``_src=1``), status 200, and a url with no page row is ``("", 404)``.
    Page bodies are materialized INSIDE the Python worker and evaluated
    there (fan-out to the navigate node's children); a fetched body never
    crosses the Arrow boundary, enters a shuffle or the block cache.

    Rows arrive url-partitioned and url-sorted, so a url's rows are
    consecutive: the url is complete once the next url starts (the
    partition's last url carries across batches, like the fetch memo).
    Per url, the worker keeps exactly one row for each of two sinks and
    writes them per batch as parquet via pyarrow (``_write_batch`` —
    tmp-name + ``os.replace``, so task retries are atomic and
    deterministic):

    - *store_dir*: (url_canon, body, status, head) — the crash-resumable
      page cache that also feeds cache-hit replays (None for the snapshot,
      whose pages table already is that cache);
    - *seen_dir*: (url_hash, url_canon, host, bucket, status, path_first)
      — the round's seen delta, ``bucket = url_hash % n_buckets`` (Python
      ``%`` equals ``pmod`` for a positive modulus) and ``path_first`` the
      min ``path_key`` over the url's rows.

    The crawler adopts both directories as the round's deltas
    (``TableFormat.adopt_delta`` — Iceberg add_files: data files written
    by tasks, committed by reference), so neither sink costs a Spark job.
    At 10^10 scale ~60 KB × millions of bodies per round would otherwise
    pay Arrow encode + JVM decode + JVM parquet re-encode on a
    memory-bandwidth-bound path that profiling showed does not scale with
    cores on one box."""

    import inspect

    try:
        _params = inspect.signature(fetch_fn).parameters if fetch_fn else {}
    except (TypeError, ValueError):
        _params = {}
    wants_cookies = "cookie_headers" in _params
    wants_requests = "requests" in _params

    def fetch(pdf: pd.DataFrame, carry: dict) -> dict[str, tuple]:
        """This batch's responses for the urls *carry* does not hold."""
        from ..kernel.cookies import cookies_ref, cookies_to_header, jar_from_json

        if fetch_fn is None:
            page = pdf["_src"] == 0
            return {
                u: (b if isinstance(b, str) else "", 200)
                for u, b in zip(pdf["url_canon"][page], pdf["body"][page])
            }
        # per url, the DFS-min request row: (path, url_full, method,
        # payload, jar)
        fetch_row: dict[str, tuple] = {}
        for url, full, path, method, payload, cj in zip(
            pdf["url_canon"], pdf["url_full"], pdf["path_key"], pdf["method"],
            pdf["payload"], pdf["cookies"],
        ):
            cur = fetch_row.get(url)
            if cur is None or (path or "") < cur[0]:
                fetch_row[url] = (path or "", full, method, payload, cj)
        need = sorted(u for u in fetch_row if u not in carry)
        if not need:
            return {}
        kw = {}
        if wants_requests:
            kw["requests"] = [
                (fetch_row[u][1] or u, fetch_row[u][2] or "GET",
                 fetch_row[u][3], fetch_row[u][4])
                for u in need
            ]
        if wants_cookies:
            kw["cookie_headers"] = [
                cookies_to_header(
                    cookies_ref(jar_from_json(fetch_row[u][4]), fetch_row[u][1] or u)
                )
                for u in need
            ]
        return dict(zip(need, fetch_fn(need, **kw)))

    def fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernel.cookies import jar_fold_head, jar_from_json, jar_to_json

        memo: dict = {}
        memo_states: set = set()
        memo_url = None
        # cross-batch fetch memo: the partition is url-sorted, so only the
        # LAST url of a batch can straddle into the next one — carrying that
        # single response keeps "fetch_fn called exactly once per url per
        # crawl" true across Arrow batch boundaries in O(1) memory (a url
        # spanning 3+ batches chains through, it is last in each).
        carry: dict[str, tuple] = {}
        # the seen row of the url in progress: [url_hash, url, host,
        # bucket, status, path_first], final once the next url starts
        seen_row = None
        for batch_idx, pdf in enumerate(batches):
            out: list[dict] = []
            store_rows: list[tuple] = []
            seen_rows: list[tuple] = []
            last_url = pdf["url_canon"].iloc[-1] if len(pdf) else None
            fetched = fetch(pdf, carry)
            fetched.update(carry)
            if fetch_fn is None:
                pdf = pdf[pdf["_src"] == 1]
            for pc, url, url_full, url_hash, host, bindings_json, path, method, cj in zip(
                pdf["pc"], pdf["url_canon"], pdf["url_full"], pdf["url_hash"],
                pdf["host"], pdf["bindings"], pdf["path_key"], pdf["method"],
                pdf["cookies"],
            ):
                resp = fetched.get(url, ("", 404))
                body, status = resp[0], resp[1]
                head = resp[2] if len(resp) > 2 else None
                if body is None:
                    body = ""
                path = path or ""
                if seen_row is None or seen_row[1] != url:
                    # the url's first row (a url straddling into this batch
                    # continues seen_row): exactly ONE store row and ONE
                    # seen row per url per crawl, so both sinks are
                    # duplicate-free by construction
                    if seen_row is not None:
                        seen_rows.append(tuple(seen_row))
                    if store_dir is not None:
                        head_json = (
                            json.dumps(list(head)) if head is not None else None
                        )
                        store_rows.append((url, body, int(status), head_json))
                    seen_row = [
                        int(url_hash), url, host, int(url_hash) % n_buckets,
                        int(status), path,
                    ]
                elif path < seen_row[5]:
                    seen_row[5] = path
                bindings_json = (
                    bindings_json if isinstance(bindings_json, str) else None
                )
                url_full = url_full if isinstance(url_full, str) else None
                method = method if isinstance(method, str) else "GET"
                cj = cj if isinstance(cj, str) else None
                cj_in = cj  # the memo key jar: pre-fold, what replays carry
                # per-branch cookie fold: the response's Set-Cookie enters
                # THIS branch's jar before its children run
                # (hypertext-browser/base.rkt:78-94)
                if head is not None:
                    cj = jar_to_json(
                        jar_fold_head(jar_from_json(cj), head, url_full or url)
                    )
                if url != memo_url:
                    memo.clear()
                    memo_states.clear()
                    memo_url = url
                row_start = len(out)
                for j, child in enumerate(node_table[int(pc)].child_ids):
                    _eval_memo(
                        memo, (child, url_full, bindings_json, method, cj),
                        node_table, child,
                        url, url_full, body, bindings_json, path + _hx(j), out,
                        head=head, method=method, cookies_json=cj,
                    )
                if emit_memo:
                    _emit_memo(
                        out, row_start, path, memo_states, url,
                        (int(pc), url_full, bindings_json, method, cj_in),
                    )
            if last_url is not None:
                carry = (
                    {last_url: fetched[last_url]} if last_url in fetched else {}
                )
            if store_rows:
                _write_batch(store_dir, _STORE_FILE_COLS, store_rows, batch_idx)
            if seen_rows:
                _write_batch(seen_dir, _SEEN_FILE_COLS, seen_rows, batch_idx)
            yield _frame(out)
        if seen_row is not None:
            # the partition's last url is complete once its input ends
            _write_batch(
                seen_dir, _SEEN_FILE_COLS, [tuple(seen_row)], batch_idx + 1
            )

    return fused


def make_replay_fn(node_table: dict[int, NodeSpec], emit_memo: bool = False):
    """Batched store replay — the cache-hit half of a crawl round.

    One ``mapInPandas`` over the union of the slim replay request rows
    (``_src=1``, no body) and each replayed url's single store row
    (``_src=0``: body + head), repartitioned by url_canon and sorted by
    (url_canon, _src, pc, bindings), so every url arrives as its body row
    followed by its replay rows. The page body crosses exactly one shuffle
    (the store side of that exchange is pre-filtered to the replayed urls)
    and one Arrow boundary, and is evaluated in place against every
    replaying branch — never joined per path, never copied per path. The
    Python cost is paid per Arrow batch, not per url group: the current
    url's body, head and eval memo carry across batch boundaries (a url
    may straddle one) and reset when the url changes. A url with no store
    row (seen but never stored) replays an empty body.

    Semantics identical to evaluating a fresh fetch of the stored body
    (the memoized replay of browser-services.rkt:36-40): robots-blocked
    branches (``_blk``) see an empty body and no head; the store head's
    Set-Cookie folds into each branch's jar before its children run.

    With ``emit_memo`` (memo-joinable programs), every state this replay
    evaluates ALSO emits eval-output-cache rows, exactly like the fused
    stage does at fetch time: a state that structurally missed the memo
    (url fetched at node A, replayed at node B — the misses are round-
    recurring for hub pages that are re-linked every round at the same
    depth) is evaluated in Python ONCE; every later round joins it
    JVM-side instead of re-reading the body. Robots-blocked branches never
    emit memo rows (their empty-body outputs would poison the unblocked
    join, whose key does not carry the blocked bit)."""

    def replay(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernel.cookies import jar_fold_head, jar_from_json, jar_to_json

        cur_url = None
        body, head = "", None
        memo: dict = {}
        memo_states: set = set()
        for pdf in batches:
            out: list[dict] = []
            for src, pc, url, url_full, bindings_json, path, method, cj, blk, b, h in zip(
                pdf["_src"], pdf["pc"], pdf["url_canon"], pdf["url_full"],
                pdf["bindings"], pdf["path_key"], pdf["method"],
                pdf["cookies"], pdf["_blk"], pdf["body"], pdf["head"],
            ):
                if url != cur_url:
                    cur_url, body, head = url, "", None
                    memo.clear()
                    memo_states.clear()
                if src == 0:
                    body = b if isinstance(b, str) else ""
                    head = tuple(json.loads(h)) if isinstance(h, str) and h else None
                    continue
                pc = int(pc)
                url_full = url_full if isinstance(url_full, str) else None
                bindings_json = (
                    bindings_json if isinstance(bindings_json, str) else None
                )
                method = method if isinstance(method, str) else "GET"
                cj = cj if isinstance(cj, str) else None
                path = path or ""
                blk = bool(blk)
                rb, rh = ("", None) if blk else (body, head)
                cj_in = cj  # pre-fold jar: the memo key replay rows carry
                if rh is not None:
                    cj = jar_to_json(
                        jar_fold_head(jar_from_json(cj), rh, url_full or url)
                    )
                row_start = len(out)
                for j, child in enumerate(node_table[pc].child_ids):
                    _eval_memo(
                        memo, (child, url_full, bindings_json, method, cj, blk),
                        node_table, child,
                        url, url_full, rb, bindings_json, path + _hx(j), out,
                        head=rh, method=method, cookies_json=cj,
                    )
                if emit_memo and not blk:
                    _emit_memo(
                        out, row_start, path, memo_states, url,
                        (pc, url_full, bindings_json, method, cj_in),
                    )
            yield _frame(out)

    return replay
