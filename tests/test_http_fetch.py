"""Live HTTP fetch mode, end-to-end against a local HTTP server — the
reference tests its fetch layer the same way (echo-server/main.rkt:34-59,
used in hypertext-browser/http.rkt:145-166 for redirect round-trips).

Exercises: the HTTP batch fetch_fn inside the crawl's fused fetch+extract
stage, redirect following, form POSTs, fetch-once across cache-hit
replays, the canonical-key-vs-full-url split (the canonical cache key
DROPS the port, url.rkt:37-38, but the fetch must keep it), and store-sink
body replays."""

import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from boris_spark.engine.crawler import CrawlEngine
from boris_spark.engine.fetch import fetch_one
from boris_spark.oracle import Spider
from boris_spark.oracle.program import Extract, Go, XpathE, XpathTextE

PAGES = {
    "/": "<td class='title'><a href='/a'>a</a></td>"
         "<td class='title'><a href='/r'>r</a></td>",
    "/a": "<p>page a</p>",
    "/b": "<p>page b (redirect target)</p>",
}


class Handler(BaseHTTPRequestHandler):
    def do_GET(self):  # noqa: N802
        if self.path == "/r":
            self.send_response(302)
            self.send_header("Location", "/b")
            self.end_headers()
            return
        body = PAGES.get(self.path)
        self.send_response(200 if body is not None else 404)
        self.send_header("Content-Type", "text/html")
        self.end_headers()
        self.wfile.write((body or "").encode())

    def log_message(self, *a):  # silence
        pass


@pytest.fixture(scope="module")
def server():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


def test_fetch_one_follows_redirects(server):
    status, body, head = fetch_one(server + "/r")
    assert status == 200
    assert body == PAGES["/b"]
    assert fetch_one(server + "/missing")[0] == 404


class OracleHttpFetcher:
    def fetch(self, url_canon, method="GET", form_data=None, url_full=None, jar=None):
        return fetch_one(url_full or url_canon, method)


def test_engine_http_mode_parity(spark, server, tmp_path):
    program = Go(
        server + "/",
        Go(XpathE("//td[@class='title']/a/@href/text()"),
           Extract(XpathTextE("//p"))),
    )
    oracle = Spider(program, OracleHttpFetcher()).run()
    # /r redirects to /b — its branch extracts /b's body text
    assert oracle.fly_values == [["page a"], ["page b (redirect target)"]]
    eng = CrawlEngine(
        spark, None, str(tmp_path / "w"), politeness_k=2,
        fetch_mode="http", use_bloom=True,
    )
    eng.run(program, max_rounds=10)
    import json as _json

    got = [
        _json.loads(r["value"])
        for r in eng.results_df().select("value").collect()
    ]
    assert got == oracle.fly_values
    seen = {r["url_canon"] for r in eng.seen_df().select("url_canon").collect()}
    assert seen == oracle.seen
    # canonical keys dropped the port (the reference's url->string/raw quirk)
    assert all("127.0.0.1/" in u or u.endswith("127.0.0.1") for u in seen)


def test_cookie_roundtrip_over_redirect(server_cookies):
    """Set-Cookie on the redirecting hop is sent back on the redirect target
    — the reference asserts the same round-trip against its echo server
    (hypertext-browser/http.rkt:145-166)."""
    jar = []
    status, body, _head = fetch_one(server_cookies + "/setc", jar=jar)
    assert status == 200
    assert body == "cookie seen: tok=abc123"
    assert ("tok", "abc123", "127.0.0.1", "/") in jar


import pytest as _pytest  # noqa: E402


@_pytest.fixture(scope="module")
def server_cookies():
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
    import threading

    class CookieHandler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            if self.path == "/setc":
                self.send_response(302)
                self.send_header("Set-Cookie", "tok=abc123; Path=/")
                self.send_header("Location", "/echo")
                self.end_headers()
                return
            got = self.headers.get("Cookie", "")
            self.send_response(200)
            self.end_headers()
            self.wfile.write(f"cookie seen: {got}".encode())

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), CookieHandler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


def test_fetch_one_file_scheme(tmp_path):
    """file:// dispatch (file.rkt:41-47): body = file contents, empty head;
    a missing file behaves like any failed fetch (0, "")."""
    p = tmp_path / "doc.html"
    p.write_text("<html><body><p>from disk</p></body></html>")
    status, body, head = fetch_one(f"file://{p}")
    assert (status, body, head) == (200, p.read_text(), ("", []))
    status, body, _ = fetch_one(f"file://{tmp_path}/missing.html")
    assert (status, body) == (0, "")


def test_live_http_bench_tier_politeness(spark):
    """The bench's live-fetch tier end-to-end small: subprocess multi-host
    server, budget binding, full coverage, per-(host, round) fetches never
    exceed the budget."""
    import sys as _sys

    _sys.path.insert(0, __file__.rsplit("/tests/", 1)[0])
    from bench import live_http_bench

    out = live_http_bench(spark, n_hosts=4, pages_per_host=15, budget=3)
    assert out["fetched"] == 4 * 15
    assert out["politeness_held"] is True
    assert out["max_host_round_fetches"] <= 3
    assert out["rounds"] >= 5  # budget binds: 1,2,3,3,3,3 per host


FORM_PAGES = {
    "/": "<form action='/post' method='post'><input name='q' value='x'></form>"
         "<td class='title'><a href='/shared'>s</a></td>"
         "<td class='title'><a href='/b'>b</a></td>",
    "/b": "<p>page b</p><td class='title'><a href='/shared'>s</a></td>",
    "/shared": "<p>shared page</p>",
}


@pytest.fixture(scope="module")
def form_server():
    """Serves FORM_PAGES plus a POST echo at /post, and counts the
    requests it answers per (method, path) in ``srv.hits``."""
    import collections
    import urllib.parse

    hits: collections.Counter = collections.Counter()

    class FormHandler(BaseHTTPRequestHandler):
        def _send(self, body):
            self.send_response(200 if body is not None else 404)
            self.send_header("Content-Type", "text/html")
            self.end_headers()
            self.wfile.write((body or "").encode())

        def do_GET(self):  # noqa: N802
            hits[("GET", self.path)] += 1
            self._send(FORM_PAGES.get(self.path))

        def do_POST(self):  # noqa: N802
            hits[("POST", self.path)] += 1
            n = int(self.headers.get("Content-Length") or 0)
            form = urllib.parse.parse_qs(self.rfile.read(n).decode())
            self._send(f"<p>posted q={form.get('q', [''])[0]}</p>")

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), FormHandler)
    srv.hits = hits
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield srv
    srv.shutdown()


class OracleFormFetcher:
    """The oracle's live fetcher: POSTs carry the form fields, encoded the
    way the engine's request rows carry them."""

    def fetch(self, url_canon, method="GET", form_data=None, url_full=None, jar=None):
        import json as _json

        payload = (
            _json.dumps([list(f) for f in form_data]) if form_data else None
        )
        return fetch_one(url_full or url_canon, method, payload)


def test_http_mode_post_form_and_fetch_once(spark, form_server, tmp_path):
    """http mode over real sockets: a method='post' form Submit and a page
    linked from two parents (/shared, from / and from /b). The engine
    matches the oracle, and every url reaches the server exactly once —
    the cache-hit replay of /shared and the politeness-deferred url never
    fetch again."""
    import json as _json

    from boris_spark.oracle.program import FormsE, Lit, Submit

    base = f"http://127.0.0.1:{form_server.server_port}"
    links = XpathE("//td[@class='title']/a/@href/text()")
    program = Go(
        base + "/",
        Submit(FormsE([("q", Lit("boris"))]), Extract(XpathTextE("//p"))),
        Go(links, Extract(XpathTextE("//p")), Go(links, Extract(XpathTextE("//p")))),
    )
    oracle = Spider(program, OracleFormFetcher()).run()
    assert ["posted q=boris"] in oracle.fly_values
    form_server.hits.clear()
    eng = CrawlEngine(
        spark, None, str(tmp_path / "w"), politeness_k=2, fetch_mode="http",
    )
    summary = eng.run(program, max_rounds=10)
    got = [
        _json.loads(r["value"])
        for r in eng.results_df().select("value").collect()
    ]
    assert got == oracle.fly_values
    seen = {r["url_canon"] for r in eng.seen_df().select("url_canon").collect()}
    assert seen == oracle.seen
    assert [r["url_canon"] for r in eng.visit_order_df().collect()] == oracle.visits
    assert dict(form_server.hits) == {
        ("GET", "/"): 1, ("POST", "/post"): 1, ("GET", "/b"): 1,
        ("GET", "/shared"): 1,
    }
    # the politeness budget deferred a url: the fetch-once check spans rounds
    assert summary.rounds >= 4
