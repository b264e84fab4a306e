"""Live HTTP fetcher: a batch ``fetch_fn`` for the crawl's fused stage.

Reproduces the reference's fetch semantics
(/root/reference/hypertext-browser/http.rkt:79-136) per URL:

- GET/POST with form-urlencoded payloads (http.rkt:71-75, 103-107);
- Referer header from the originating page (http.rkt:92-95);
- redirect chains followed recursively on a ``Location`` header with Referer
  set to the redirecting URL (http.rkt:97-101, 111-122);
- the response body decoded as text (the reference's body is a string,
  hypertext-browser/base.rkt:30).

The reference fetches one URL at a time on one thread. Here the fetcher is
a plain ``fetch_fn`` like any other (the reference's swappable request
service, boris/interpreter/services.rkt:14-15): the crawl's fused
fetch+extract ``mapInArrow`` stage calls it once per Arrow batch with the
batch's fresh urls and their DFS-min requests, and it fetches them
concurrently on a small thread pool (network-bound work — threads, not
processes). The engine's per-host politeness budget upstream bounds the
per-round load per site.

Exercised end-to-end against a local HTTP server in
tests/test_http_fetch.py (the reference tests the same way via its
echo-server, /root/reference/echo-server/main.rkt:34-59).
"""

from __future__ import annotations

import json
import urllib.error
import urllib.parse
import urllib.request
from concurrent.futures import ThreadPoolExecutor

MAX_REDIRECTS = 8


class _NoRedirect(urllib.request.HTTPRedirectHandler):
    def redirect_request(self, *a, **kw):  # noqa: D102
        return None


_OPENER = urllib.request.build_opener(_NoRedirect)


def fetch_one(
    url_full: str,
    method: str = "GET",
    payload: str | None = None,
    referer: str | None = None,
    timeout: float = 10.0,
    jar: list | None = None,
) -> tuple[int, str, tuple[str, list]]:
    """Fetch one URL, following redirects manually (http.rkt:111-122).

    *jar* (mutable cookie list) mirrors the per-branch cookie state of
    request->browser (http.rkt:111-122 + head.rkt:87-92): Set-Cookie headers
    fold into the jar at every hop; matching cookies are sent on the next.
    """
    from ..kernel.cookies import cookies_ref, cookies_to_header
    from ..kernel.headers import headers_set_cookies, headers_to_alist

    if url_full.startswith("file://"):
        # the reference's file protocol (file.rkt:41-47): body = file
        # contents, empty status line + header alist; read errors → 0/""
        # like any other failed fetch
        try:
            path = urllib.request.url2pathname(
                urllib.parse.urlparse(url_full).path
            )
            with open(path, encoding="utf-8", errors="replace") as f:
                return (200, f.read(), ("", []))
        except OSError:
            return (0, "", ("", []))

    url = url_full
    data = None
    headers = {}
    if referer:
        headers["Referer"] = referer
    if method == "POST" and payload:
        fields = json.loads(payload)
        data = urllib.parse.urlencode(dict(fields)).encode()
        headers["Content-Type"] = "application/x-www-form-urlencoded"

    def _fold_cookies(resp_headers) -> None:
        if jar is None:
            return
        alist = headers_to_alist(
            [f"{k}: {v}".encode() for k, v in resp_headers.items()]
        )
        jar[:] = headers_set_cookies(alist, url, jar)

    for _ in range(MAX_REDIRECTS + 1):
        if jar:
            matched = cookies_ref(jar, url)
            if matched:
                headers["Cookie"] = cookies_to_header(matched)
        req = urllib.request.Request(url, data=data, headers=headers, method=method)
        try:
            with _OPENER.open(req, timeout=timeout) as resp:
                _fold_cookies(resp.headers)
                head = (
                    f"HTTP/1.1 {resp.status} {getattr(resp, 'reason', '') or ''}".rstrip(),
                    [[k, v] for k, v in resp.headers.items()],
                )
                return (resp.status, resp.read().decode("utf-8", "replace"), head)
        except urllib.error.HTTPError as e:
            _fold_cookies(e.headers)
            loc = e.headers.get("Location")
            if loc and e.code in (301, 302, 303, 307, 308):
                # redirect: GET the target with Referer (http.rkt:97-101)
                headers["Referer"] = url
                url = urllib.parse.urljoin(url, loc)
                method, data = "GET", None
                continue
            head = (
                f"HTTP/1.1 {e.code} {getattr(e, 'reason', '') or ''}".rstrip(),
                [[k, v] for k, v in e.headers.items()],
            )
            return (e.code, e.read().decode("utf-8", "replace"), head)
        except Exception:  # noqa: BLE001 — network errors → 0, empty body
            return (0, "", ("", []))
    return (0, "", ("", []))


def make_http_fetch_fn(timeout: float = 10.0, threads: int = 8):
    """A batch ``fetch_fn(urls, requests)`` over :func:`fetch_one`: each
    request is the url's ``(url_full, method, payload, cookies_json)``.
    It fetches ``url_full`` (the canonical key drops the port), sends the
    fetching branch's jar (matching cookies go out and Set-Cookie folds
    across the redirect chain, head.rkt:87-98), and returns ``(body,
    status, head)`` per url."""

    def fetch(urls: list[str], requests: list[tuple]) -> list[tuple]:
        from ..kernel.cookies import jar_from_json

        def one(req):
            full, method, payload, cookies_json = req
            status, body, head = fetch_one(
                full, method, payload, None, timeout,
                jar=jar_from_json(cookies_json),
            )
            return body, status, head

        with ThreadPoolExecutor(max_workers=threads) as pool:
            return list(pool.map(one, requests))

    return fetch
