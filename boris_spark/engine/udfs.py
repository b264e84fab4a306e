"""Arrow-batched executor-side program evaluation.

A crawl round runs ONE Python stage (``make_round_fn``): a url-sorted
``mapInArrow`` whose worker holds each url's page and evaluates every
non-fetch program node on it to fixpoint (``eval_to_fixpoint`` — the
reference's per-branch closure application,
/root/reference/boris/semantics.rkt:52-92, and interpreter.rkt:54-59,
which applies let/for/label/recur/show to the page it already holds).
Fresh urls and cache-hit replays share that stage; a url's response comes
from ``fetch_fn``, its pages-table row (snapshot) or its seen row's stored
body (replay). The worker reads Arrow columns as Python lists (nulls stay
None) and builds its output batches from ``OUT_SCHEMA`` with one row
builder, ``RecordBatch.from_pylist``; the same builder writes every
worker- and driver-side parquet file. Output is a single union schema
split by ``kind`` on the JVM side:

- ``request``  → a navigate fan-out (semantics.rkt:52-57): resolved +
  canonicalized + hashed target, path extended with the fan-out index;
- ``result``   → an extraction fly (semantics.rkt:61-66), #f/void suppressed
  (browser-services.rkt:50-53);
- ``download`` → a body sink row (syntax/io.rkt:27-36).

All string work (xpath/links/forms/canonicalize/hash) is the shared pure
kernel — identical bytes to the oracle by construction.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from typing import Any

import pyarrow as pa

from ..kernel import host_of, resolve2, url_hash
from ..oracle import program as P
from .compiler import NodeSpec
from .robots import ROBOTS_STATUS

# every evaluation output row, as (column, arrow type); the kind column
# becomes the hive partition of the round's single output write
_OUT_COLS = (
    ("kind", "string"), ("pc", "int64"), ("cur_url", "string"),
    ("bindings", "string"), ("path_key", "string"), ("url_canon", "string"),
    ("url_full", "string"), ("url_hash", "int64"), ("host", "string"),
    ("referer", "string"), ("method", "string"), ("payload", "string"),
    ("value", "string"), ("vkind", "string"), ("cookies", "string"),
)
_COLS = [c for c, _ in _OUT_COLS]
OUT_SCHEMA = pa.schema([(c, pa.type_for_alias(t)) for c, t in _OUT_COLS])
CASCADE_SCHEMA = ", ".join(
    f"{c} {'long' if t == 'int64' else t}" for c, t in _OUT_COLS
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


# worker-written seen files, in the sink schema's order (crawler.py
# SEEN_SINK_SCHEMA)
_SEEN_FILE_SCHEMA = pa.schema([
    ("url_hash", pa.int64()), ("url_canon", pa.string()),
    ("host", pa.string()), ("bucket", pa.int32()), ("status", pa.int32()),
    ("path_first", pa.string()), ("body", pa.string()), ("head", pa.string()),
])


def _write_batch(
    out_dir: str, schema: pa.Schema, rows: list[dict], batch_idx: int
) -> None:
    """Worker-side sink write: one parquet file per (partition, batch),
    *rows* built by *schema*'s columns (``from_pylist``, the output
    batches' builder), snappy. tmp-name + ``os.replace`` makes task
    retries atomic; names are deterministic in (partitionId, batch index)
    — a re-run attempt overwrites with byte-identical content, so
    last-writer-wins is consistent. The engine adopts the directory as the
    round's sink delta without rewriting a byte (Iceberg add_files)."""
    import os

    import pyarrow.parquet as pq
    from pyspark import TaskContext

    tc = TaskContext.get()
    pid = tc.partitionId() if tc is not None else 0
    os.makedirs(out_dir, exist_ok=True)
    name = f"part-{pid:05d}-{batch_idx:04d}.parquet"
    tmp = os.path.join(out_dir, f".{name}.tmp-{os.getpid()}")
    pq.write_table(
        pa.Table.from_pylist(rows, schema=schema), tmp, compression="snappy"
    )
    os.replace(tmp, os.path.join(out_dir, name))


def write_by_kind(out_dir: str, out: list[dict]) -> None:
    """Driver-side twin of the rounds' ``partitionBy("kind")`` output
    write: *out*'s rows as one parquet file per ``kind=`` subdirectory of
    *out_dir*, with the output columns' exact types (the sinks that adopt
    these files mix them with Spark-written ones)."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    by_kind: dict[str, list[dict]] = {}
    for r in out:
        by_kind.setdefault(r["kind"], []).append(r)
    for kind, rows in by_kind.items():
        _write_batch(
            os.path.join(out_dir, f"kind={kind}"), OUT_SCHEMA.remove(0), rows, 0
        )


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


# output rows per yielded batch: result values are page-sized, so a
# worker's output buffer is bounded by rows, not by its input batch
_BATCH_ROWS = 1024


def make_round_fn(
    node_table: dict[int, NodeSpec],
    fetch_fn,
    seen_dir: str,
    n_buckets: int,
):
    """The crawl round's one Python worker: a ``mapInArrow`` over every
    request row the round evaluates — fresh urls and cache-hit replays
    alike, since the two differ only in where a url's response comes from
    (the reference's request service replays a memoized response on a hit
    and fetches on a miss, browser-services.rkt:35-47). Every cache hit
    replays here: its stored response is evaluated again, as the
    reference does, and the url-sorted input lets the eval memo
    (``_eval_memo``) evaluate each distinct state of a url once.

    Input rows carry the REQUEST columns + ``_fresh`` + ``_blk``, plus
    ``body``/``head`` when a body source is joined in; they arrive
    url-partitioned and sorted by (url_canon, pc nulls first, bindings), so
    a url's rows are consecutive and its body row, if any, leads its
    request rows: a body row is the only row with a null ``pc``
    (crawler.py ``_url_stage``). Per url there is ONE response (body,
    status, head):

    - the url's body row, if it has one: its pages-table row in a snapshot
      crawl, or its seen row's stored body for a cache-hit replay (status
      200);
    - else, for a fresh url that robots does not block, ``fetch_fn``'s
      answer — one batch call per Arrow batch;
    - else ``("", 404)`` with no head.

    A robots-blocked url (``_blk``: a first visit, or a replay of one)
    never reaches ``fetch_fn`` and evaluates on an empty body with no
    head. The url's response, seen row and eval memo carry across Arrow
    batches (the partition is url-sorted, so only the last url of a batch
    can straddle into the next, and a url spanning 3+ batches chains
    through) and reset when the url changes — O(1) memory, and fetch_fn is
    called exactly once per url per crawl.

    ``fetch_fn(urls: list[str]) -> list[(body, status[, head])]`` (head =
    (status line, header alist); without one, file-style) is the pluggable
    fetcher (the reference's swappable request service,
    /root/reference/boris/interpreter/services.rkt:14-15) — a
    deterministic closed-form page function in the bench,
    ``fetch.make_http_fetch_fn`` for live HTTP, None for the snapshot.
    Extra inputs are declared by parameter NAME, never by arity (which
    would feed them into an unrelated optional parameter, e.g.
    batch_size=100): ``cookie_headers`` gets each url's Cookie header
    value, ``requests`` each url's ``(url_full, method, payload,
    cookies_json)`` — both taken from the url's DFS-min request row (the
    branch the reference would fetch with first; later branches replay the
    memoized response with their own jars). A fetched body is evaluated
    where it lands; it never crosses the Arrow boundary, a shuffle or the
    block cache.

    Only fresh urls write seen rows, exactly one per url, written per
    batch into *seen_dir* as parquet via pyarrow (``_write_batch`` —
    tmp-name + ``os.replace``, so task retries are atomic and
    deterministic): (url_hash, url_canon, host, bucket, status,
    path_first, body, head), ``bucket = url_hash % n_buckets`` (Python
    ``%`` equals ``pmod`` for a positive modulus), ``path_first`` the min
    ``path_key`` over the url's rows, status ``ROBOTS_STATUS`` for a
    blocked url. The seen sink is the crawl's page cache, the reference's
    url-keyed dict: ``body``/``head`` hold the response when ``fetch_fn``
    produced it, and are null for a snapshot page (its pages row already
    is the cache), a 404 with no fetch, and a robots block. Cache-hit urls
    never reach fetch_fn and write no row.

    The crawler adopts *seen_dir* as the round's seen delta
    (``ParquetManifestFormat.adopt_delta`` — Iceberg add_files: data files
    written by tasks, committed by reference), so the sink costs no Spark
    job."""

    import inspect

    try:
        _params = inspect.signature(fetch_fn).parameters if fetch_fn else {}
    except (TypeError, ValueError):
        _params = {}
    wants_cookies = "cookie_headers" in _params
    wants_requests = "requests" in _params

    def fetch(cols: dict[str, list], cur) -> dict[str, tuple]:
        """This batch's fetched responses: its fresh urls bar *cur*, the
        url in progress, whose response is already held."""
        from ..kernel.cookies import cookies_ref, cookies_to_header, jar_from_json

        if fetch_fn is None:
            return {}
        # per fresh url, the DFS-min request row: (path, url_full, method,
        # payload, jar)
        fetch_row: dict[str, tuple] = {}
        for fresh, blk, url, full, path, method, payload, cj in zip(
            cols["_fresh"], cols["_blk"], cols["url_canon"], cols["url_full"],
            cols["path_key"], cols["method"], cols["payload"], cols["cookies"],
        ):
            if not fresh or blk:
                continue
            row = fetch_row.get(url)
            if row is None or path < row[0]:
                fetch_row[url] = (path, full, method, payload, cj)
        need = sorted(u for u in fetch_row if u != cur)
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

    def evaluate(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from ..kernel.cookies import jar_fold_head, jar_from_json, jar_to_json

        # the url in progress: its response (``kept``: fetch_fn's, so the
        # seen row stores it), its seen row (fresh urls only, final once
        # the next url starts) and its eval memo
        cur = None
        body, status, head = "", 404, None
        kept = False
        seen_row = None
        memo: dict = {}
        for batch_idx, batch in enumerate(batches):
            cols = batch.to_pydict()
            out: list[dict] = []
            seen_rows: list[dict] = []
            fetched = fetch(cols, cur)
            for i, (fresh, blk, pc, url, url_full, uhash, host, bindings_json, path, method, cj) in enumerate(zip(
                cols["_fresh"], cols["_blk"], cols["pc"], cols["url_canon"],
                cols["url_full"], cols["url_hash"], cols["host"],
                cols["bindings"], cols["path_key"], cols["method"],
                cols["cookies"],
            )):
                if url != cur:
                    if seen_row is not None:
                        seen_rows.append(seen_row)
                        seen_row = None
                    cur = url
                    memo.clear()
                    kept = url in fetched
                    resp = fetched.get(url, ("", 404))
                    body = resp[0] or ""
                    status = resp[1]
                    head = resp[2] if len(resp) > 2 else None
                if pc is None:  # the url's body row
                    body = cols["body"][i] or ""
                    status = 200
                    h = cols["head"][i]
                    head = tuple(json.loads(h)) if h else None
                    kept = False
                    continue
                if fresh:
                    if seen_row is None:
                        # the url's first request row: exactly ONE seen row
                        # per url per crawl, so the sink is duplicate-free
                        # by construction
                        seen_row = {
                            "url_hash": uhash, "url_canon": url, "host": host,
                            "bucket": uhash % n_buckets,
                            "status": ROBOTS_STATUS if blk else status,
                            "path_first": path,
                            "body": body if kept else None,
                            "head": json.dumps(list(head))
                            if kept and head is not None else None,
                        }
                    elif path < seen_row["path_first"]:
                        seen_row["path_first"] = path
                method = method or "GET"
                rb, rh = ("", None) if blk else (body, head)
                # per-branch cookie fold: the response's Set-Cookie enters
                # THIS branch's jar before its children run
                # (hypertext-browser/base.rkt:78-94)
                if rh is not None:
                    cj = jar_to_json(
                        jar_fold_head(jar_from_json(cj), rh, url_full or url)
                    )
                for j, child in enumerate(node_table[pc].child_ids):
                    _eval_memo(
                        memo, (child, url_full, bindings_json, method, cj, blk),
                        node_table, child,
                        url, url_full, rb, bindings_json, path + _hx(j), out,
                        head=rh, method=method, cookies_json=cj,
                    )
                if len(out) >= _BATCH_ROWS:
                    yield pa.RecordBatch.from_pylist(out, schema=OUT_SCHEMA)
                    out = []
            if seen_rows:
                _write_batch(seen_dir, _SEEN_FILE_SCHEMA, seen_rows, batch_idx)
            yield pa.RecordBatch.from_pylist(out, schema=OUT_SCHEMA)
        if seen_row is not None:
            # the partition's last fresh url is complete once its input ends
            _write_batch(seen_dir, _SEEN_FILE_SCHEMA, [seen_row], batch_idx + 1)

    return evaluate
