"""Engine ↔ oracle parity: the north-rule gate.

Given the same program + snapshot corpus, the distributed engine must
reproduce the reference semantics (via the oracle, which implements
/root/reference/boris/interpreter.rkt:54-59 exactly):

- identical extraction stream (values in path_key order, byte-identical);
- identical URL-seen set (canonical keys, /root/reference/hypertext-browser/url.rkt:37-38);
- identical first-visit order (lex-min discovery path);
- invariance to the politeness budget and to parallelism level.
"""

import json
import os

import pytest

from boris_spark.engine.crawler import CrawlEngine
from boris_spark.oracle import SnapshotFetcher, spider
from boris_spark.oracle.program import (
    Add, Cmp, Extract, ExtractList, ForWeb, First, Fmt, Go, IfE, Label,
    LetWeb, Lit, Recur, UrlE, Var, XpathE, XpathTextE, path_key_hex,
)
from boris_spark.synth import webgen

N_PAGES = 240
SEED = 42


def flagship_program(seeds: list[str]):
    """Seeds → follow title links 2 hops → extract (url, page text)."""
    extract_leaf = Extract(Fmt("{}\t{}", [UrlE(), First(XpathTextE("//title"))]))
    return Go(
        Lit(seeds),
        ExtractList(XpathTextE("//p")),
        Go(XpathE("//td[@class='title']/a/@href/text()"),
           Go(XpathE("//td[@class='title']/a/@href/text()"), extract_leaf)),
    )


def pagination_program(seed_url: str):
    """label/recur loop following 'More' links (hn-crawl.rkt search-hn)."""
    page_scan = ForWeb(
        [("link", XpathE("//td[@class='title']/a"))],
        Go(XpathE("/a/@href/text()", Var("link")),
           Extract(Fmt("{}: {}", [First(XpathE("/a/text()", Var("link"))), UrlE()]))),
    )
    return Go(
        seed_url,
        LetWeb([("n", Lit(0))],
               Label("pg",
                     page_scan,
                     Go(IfE(Cmp("<", Var("n"), Lit(2)),
                            XpathE("//td[@class='title']/a[text() = 'More']/@href/text()"),
                            Lit([])),
                        LetWeb([("n", Add(Var("n"), Lit(1)))], Recur("pg"))))),
    )


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (r["url"], r["warc_ts"], r["html"], r["text"], r["lang"])
        for r in webgen.corpus(N_PAGES, SEED)
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    pages_dict = webgen.corpus_pages_dict(N_PAGES, SEED)
    return df, pages_dict


def run_both(spark, corpus, program, tmp_path, **engine_kw):
    pages_df, pages_dict = corpus
    oracle = spider(program, SnapshotFetcher(pages_dict))
    eng = CrawlEngine(spark, pages_df, str(tmp_path / "work"), **engine_kw)
    summary = eng.run(program, max_rounds=50)
    return oracle, eng, summary


def assert_parity(oracle, eng):
    # 1. extraction stream: path-key order, byte-identical values
    got = [
        (r["path_key"], r["value"])
        for r in eng.results_df().select("path_key", "value").collect()
    ]
    want = [
        (path_key_hex(f.path), json.dumps(f.value, sort_keys=True,
                                          separators=(",", ":"), ensure_ascii=False))
        for f in oracle.flies
    ]
    assert got == want
    # 2. URL-seen set
    got_seen = {r["url_canon"] for r in eng.seen_df().select("url_canon").collect()}
    assert got_seen == oracle.seen
    # 3. first-visit order
    got_visits = [r["url_canon"] for r in eng.visit_order_df().collect()]
    assert got_visits == oracle.visits


def test_flagship_parity(spark, corpus, tmp_path):
    seeds = webgen.seeds_for(N_PAGES, SEED)
    oracle, eng, summary = run_both(
        spark, corpus, flagship_program(seeds), tmp_path, politeness_k=None
    )
    assert summary.fetched > 20
    assert summary.results > 20
    assert_parity(oracle, eng)


def test_politeness_budget_invariance(spark, corpus, tmp_path):
    """Budgeted dequeue defers fetches across rounds but cannot change the
    extraction stream, seen set, or visit order (path_key is schedule-free)."""
    seeds = webgen.seeds_for(N_PAGES, SEED)
    oracle, eng, summary = run_both(
        spark, corpus, flagship_program(seeds), tmp_path,
        politeness_k=3, use_bloom=True,
    )
    assert summary.rounds > 3  # budget actually forced extra rounds
    assert_parity(oracle, eng)


def test_label_recur_parity(spark, corpus, tmp_path):
    _, pages_dict = corpus
    seed_url = webgen.page_url(0, N_PAGES, SEED)
    oracle, eng, _ = run_both(
        spark, corpus, pagination_program(seed_url), tmp_path, politeness_k=None
    )
    assert len(oracle.flies) > 0
    assert_parity(oracle, eng)


def test_resume_from_checkpoint(spark, corpus, tmp_path):
    """Kill the crawl after 2 rounds; resume must finish with identical output."""
    pages_df, pages_dict = corpus
    seeds = webgen.seeds_for(N_PAGES, SEED)
    program = flagship_program(seeds)
    oracle = spider(program, SnapshotFetcher(pages_dict))

    eng1 = CrawlEngine(spark, pages_df, str(tmp_path / "work"), politeness_k=4)
    eng1.run(program, max_rounds=2)  # partial crawl
    eng2 = CrawlEngine(spark, pages_df, str(tmp_path / "work"), politeness_k=4)
    eng2.run(program, max_rounds=50, resume=True)
    assert_parity(oracle, eng2)


def test_robots_parity(spark, corpus, tmp_path):
    """robots.txt: blocked URLs are seen with status 999 + empty body on the
    engine; the oracle mirrors via RobotsSnapshotFetcher — outputs match."""
    from boris_spark.engine.robots import RobotsSnapshotFetcher, robots_rules_df

    pages_df, pages_dict = corpus
    seeds = webgen.seeds_for(N_PAGES, SEED)
    program = flagship_program(seeds)
    rules = [("h0.site42.test", "/p/1"), ("h1.site42.test", "/")]
    from boris_spark.oracle import spider as run_spider

    oracle = run_spider(program, RobotsSnapshotFetcher(pages_dict, rules))
    eng = CrawlEngine(
        spark, pages_df, str(tmp_path / "work"), politeness_k=None,
        robots_rules=robots_rules_df(spark, rules),
    )
    eng.run(program, max_rounds=50)
    assert_parity(oracle, eng)
    blocked = {
        r["url_canon"]
        for r in eng.seen_df().where("status = 999").collect()
    }
    assert blocked, "rules matched nothing"


def test_click_submit_download_parity(spark, tmp_path):
    """click (Referer), submit (form POST keyed by action URL) and download
    (body sink + prune) through the distributed engine vs the oracle."""
    from boris_spark.oracle.program import Click, Download, FormsE, Submit

    site = {
        "http://s.test/": (
            "<form action='/search' method='get'>"
            "<input name='q' value='default'></form>"
            "<td class='title'><a href='/a'>go</a></td>"
        ),
        "http://s.test/search": "<p>results page</p>",
        "http://s.test/a": "<p>leaf a</p>",
    }
    pages_df = spark.createDataFrame(
        [(u, h.encode()) for u, h in site.items()], "url string, html binary"
    )
    program = Go(
        "http://s.test/",
        Submit(FormsE([("q", Lit("boris"))]), Extract(XpathTextE("//p"))),
        Click(XpathE("//td[@class='title']/a/@href/text()"),
              Extract(XpathTextE("//p"))),
        Download(),
    )
    oracle = spider(program, SnapshotFetcher(site))
    eng = CrawlEngine(spark, pages_df, str(tmp_path / "w"), politeness_k=None)
    eng.run(program, max_rounds=10)
    assert_parity(oracle, eng)
    dls = eng.downloads_df()
    assert dls.count() == 1
    assert oracle.downloads and oracle.downloads[0][1] == "http://s.test/"


def test_fused_callable_mode_parity(spark, corpus, tmp_path):
    """fetch_mode='callable' (the fused fetch+extract stage: bodies never
    cross the JVM boundary) must be semantically identical to snapshot mode
    — same extraction stream, seen set, and visit order as the oracle."""
    _, pages_dict = corpus

    def fetch_fn(urls):
        return [
            (pages_dict.get(u), 200 if u in pages_dict else 404) for u in urls
        ]

    seeds = webgen.seeds_for(N_PAGES, SEED)
    program = flagship_program(seeds)
    oracle = spider(program, SnapshotFetcher(pages_dict))
    eng = CrawlEngine(
        spark, None, str(tmp_path / "work"),
        politeness_k=7, fetch_mode="callable", fetch_fn=fetch_fn,
    )
    summary = eng.run(program, max_rounds=50)
    assert summary.rounds > 3  # budget forced multi-round scheduling
    assert_parity(oracle, eng)


def test_head_and_previous_request_selectors(spark, tmp_path):
    """op 22 (selectors.rkt:19-21, 29-30): head = (status line . header
    alist) — empty for file-style fetches (file.rkt:38-47), real for live
    heads — and previous-request, byte-identical engine vs oracle."""
    from boris_spark.oracle.program import HeadE, PrevRequestE

    site = {
        "http://s.test/": "<html><body><td class='title'>"
                          "<a href='/p'>p</a></td></body></html>",
        "http://s.test/p": "<html><body><p>leaf</p></body></html>",
    }
    heads = {
        "http://s.test/": ("HTTP/1.1 200 OK", [["Content-Type", "text/html"],
                                               ["X-Crawl", "a"]]),
        "http://s.test/p": ("HTTP/1.1 200 OK", [["Content-Type", "text/html"]]),
    }

    class HeadFetcher:
        def fetch(self, url_canon, method="GET", form_data=None, url_full=None, jar=None):
            body = site.get(url_canon)
            if body is None:
                return (404, "", ("HTTP/1.1 404 Not Found", []))
            return (200, body, heads[url_canon])

    def fetch_fn(urls):
        return [
            (site.get(u), 200 if u in site else 404,
             heads.get(u, ("HTTP/1.1 404 Not Found", [])))
            for u in urls
        ]

    program = Go(
        "http://s.test/",
        Extract(HeadE()),
        Extract(PrevRequestE()),
        Go(XpathE("//td[@class='title']/a/@href/text()"),
           Extract(HeadE()), Extract(PrevRequestE())),
    )
    oracle = spider(program, HeadFetcher())
    assert any("X-Crawl" in str(f.value) for f in oracle.flies)
    eng = CrawlEngine(
        spark, None, str(tmp_path / "w"),
        politeness_k=None, fetch_mode="callable", fetch_fn=fetch_fn,
    )
    eng.run(program, max_rounds=10)
    assert_parity(oracle, eng)


def test_robots_parity_fused_callable(spark, corpus, tmp_path):
    """robots + the fused callable path: blocked URLs (this round's AND
    previous rounds') traverse with empty bodies and never reach the
    fetcher; parity with the oracle under a politeness budget that forces
    multi-round scheduling of blocked/unblocked mixes."""
    from boris_spark.engine.robots import RobotsSnapshotFetcher, robots_rules_df

    _, pages_dict = corpus
    seeds = webgen.seeds_for(N_PAGES, SEED)
    program = flagship_program(seeds)
    rules = [
        ("h0.site42.test", "/p/1"), ("h1.site42.test", "/"),
        # RFC 9309 wildcard grammar through BOTH sides: allow-overrides,
        # '*' runs, trailing-$ anchors — engine LIKE vs oracle regex
        ("h1.site42.test", "allow", "/p/*0$"),
        ("h2.site42.test", "disallow", "/p/*3"),
    ]
    from boris_spark.oracle import spider as run_spider

    oracle = run_spider(program, RobotsSnapshotFetcher(pages_dict, rules))
    log = tmp_path / "calls"
    log.mkdir()

    def fetch_fn(urls):
        import uuid as _uuid

        (log / _uuid.uuid4().hex).write_text("\n".join(urls))
        return [
            (pages_dict.get(u), 200 if u in pages_dict else 404) for u in urls
        ]

    eng = CrawlEngine(
        spark, None, str(tmp_path / "work"), politeness_k=5,
        fetch_mode="callable", fetch_fn=fetch_fn,
        robots_rules=robots_rules_df(spark, rules),
    )
    summary = eng.run(program, max_rounds=60)
    assert summary.rounds > 3
    assert_parity(oracle, eng)
    blocked = {
        r["url_canon"] for r in eng.seen_df().where("status = 999").collect()
    }
    assert blocked, "rules matched nothing"
    fetched = [
        u for p in log.iterdir() for u in p.read_text().splitlines() if u
    ]
    assert not blocked & set(fetched)
    assert len(fetched) == len(set(fetched))


@pytest.mark.parametrize("mode", ["snapshot", "callable"])
def test_robots_resume_parity(spark, tmp_path, mode):
    """Kill a robots crawl after 2 rounds and resume it: the result must
    match the oracle. /x is blocked on its first visit (round 1, before
    the kill) and reached again through /a → /b in round 3, after the
    resume. Only its seen status keeps it blocked then: in a snapshot
    crawl the pages table still holds its page, whose title and link to
    /y the oracle never sees."""
    from boris_spark.engine.robots import RobotsSnapshotFetcher, robots_rules_df
    from boris_spark.oracle.program import Label

    def page(title, *links):
        return f"<title>{title}</title>" + "".join(
            f"<td class='title'><a href='{u}'>{u}</a></td>" for u in links
        )

    site = {
        "http://r.test/": page("root", "/a", "/x"),
        "http://r.test/a": page("a", "/b"),
        "http://r.test/b": page("b", "/x"),
        "http://r.test/x": page("x", "/y"),
        "http://r.test/y": page("y"),
    }
    rules = [("r.test", "/x")]
    program = Go(
        "http://r.test/",
        Label("l", Extract(First(XpathTextE("//title"))),
              Go(XpathE("//td[@class='title']/a/@href/text()"), Recur("l"))),
    )
    oracle = spider(program, RobotsSnapshotFetcher(site, rules))
    kw = dict(politeness_k=None, robots_rules=robots_rules_df(spark, rules))
    src = None
    if mode == "callable":
        kw.update(fetch_mode="callable", fetch_fn=_page_fetch_fn(site))
    else:
        src = spark.createDataFrame(list(site.items()), "url string, html string")
    mk = lambda: CrawlEngine(spark, src, str(tmp_path / "work"), **kw)  # noqa: E731
    mk().run(program, max_rounds=2)
    assert [
        r["url_canon"] for r in mk().seen_df().where("status = 999").collect()
    ] == ["http://r.test/x"]
    eng = mk()
    eng.run(program, max_rounds=10, resume=True)
    assert_parity(oracle, eng)
    assert eng.table.round_metrics(3)["routed"]["replay"] == 1


def test_per_host_budget_invariance(spark, corpus, tmp_path):
    """Per-host politeness budgets (broadcast budgets table; north star:
    'per-host politeness budgets') reschedule fetches across rounds but
    cannot change the extraction stream, seen set, or visit order."""
    _, pages_dict = corpus

    def fetch_fn(urls):
        return [
            (pages_dict.get(u), 200 if u in pages_dict else 404) for u in urls
        ]

    seeds = webgen.seeds_for(N_PAGES, SEED)
    program = flagship_program(seeds)
    oracle = spider(program, SnapshotFetcher(pages_dict))
    budgets = spark.createDataFrame(
        [(f"h0.site{SEED}.test", 2), (f"h1.site{SEED}.test", 3)],
        "host string, budget int",
    )
    eng = CrawlEngine(
        spark, None, str(tmp_path / "work"),
        politeness_k=9, host_budgets=budgets,
        fetch_mode="callable", fetch_fn=fetch_fn,
    )
    summary = eng.run(program, max_rounds=80)
    assert summary.rounds > 4  # the tight per-host budgets forced rounds
    assert_parity(oracle, eng)
    # the hot host really was capped at 2 fetches per round
    import collections
    import os

    import pyarrow.parquet as pq

    h0 = f"h0.site{SEED}.test"
    by_round = collections.defaultdict(int)
    seen_dir = str(tmp_path / "work" / "seen")
    for d in os.listdir(seen_dir):
        t = pq.read_table(os.path.join(seen_dir, d), columns=["host"]).to_pandas()
        by_round[d] = int((t["host"] == h0).sum())
    assert max(by_round.values()) <= 2


def test_crawl2_forms_pagination_parity(spark, tmp_path):
    """The crawl2 gate program (submit/forms/click/let/for/label/recur/
    download/show) against the pure-Python oracle on a small doc set —
    byte-identical flies in path order, plus download and seen parity."""
    from boris_spark.ops import crawl2

    docs = [(i, f"text of document {i} & more") for i in range(37)]
    pages_dict = crawl2.build_list_pages_py(docs)
    oracle = spider(crawl2.PROGRAM, SnapshotFetcher(pages_dict))

    pages_df = spark.createDataFrame(
        list(pages_dict.items()), "url string, html string"
    )
    eng = CrawlEngine(spark, pages_df, str(tmp_path / "work"), politeness_k=None)
    eng.run(crawl2.PROGRAM, max_rounds=30)
    assert_parity(oracle, eng)
    # downloads: one byte-identical body per detail branch
    got_dl = {
        (r["url"], r["value"]) for r in eng.downloads_df().collect()
    }
    want_dl = {(u, b) for _, u, b in oracle.downloads}
    assert got_dl == want_dl
    assert len(oracle.downloads) == len(docs)


def _cookie_site():
    """Cookie-gated site: /a sets tok=T1; /b serves 'secret' only when the
    request carries it (http/head.rkt:87-103). /plain links to /b without
    setting anything."""
    A, A2, B = "http://c.test/a", "http://c.test/plain", "http://c.test/b"
    head_a = ("HTTP/1.1 200 OK", [["Set-Cookie", "tok=T1; Path=/"]])
    head_ok = ("HTTP/1.1 200 OK", [])
    link = "<td class='l'><a href='/b'>b</a></td>"
    body_a = f"<html><body><p>a</p>{link}</body></html>"
    body_plain = f"<html><body><p>plain</p>{link}</body></html>"

    def page_b(cookie_header):
        got = "tok=T1" in (cookie_header or "")
        word = "secret" if got else "denied"
        return f"<html><body><p>{word}</p></body></html>"

    return A, A2, B, head_a, head_ok, body_a, body_plain, page_b


def _cookie_program(seeds):
    return Go(
        Lit(seeds),
        Go(XpathE("//td[@class='l']/a/@href/text()"),
           Extract(First(XpathTextE("//p")))),
    )


def _run_cookie_both(spark, tmp_path, seeds):
    from boris_spark.engine.crawler import CrawlEngine
    from boris_spark.kernel.cookies import cookies_ref, cookies_to_header
    from boris_spark.oracle import spider

    A, A2, B, head_a, head_ok, body_a, body_plain, page_b = _cookie_site()

    class CookieFetcher:
        def fetch(self, url_canon, method="GET", form_data=None,
                  url_full=None, jar=None):
            hdr = cookies_to_header(cookies_ref(jar or [], url_full or url_canon))
            if url_canon == A:
                return (200, body_a, head_a)
            if url_canon == A2:
                return (200, body_plain, head_ok)
            if url_canon == B:
                return (200, page_b(hdr), head_ok)
            return (404, "")

    def fetch_fn(urls, cookie_headers):
        out = []
        for u, h in zip(urls, cookie_headers):
            if u == A:
                out.append((body_a, 200, head_a))
            elif u == A2:
                out.append((body_plain, 200, head_ok))
            elif u == B:
                out.append((page_b(h), 200, head_ok))
            else:
                out.append(("", 404))
        return out

    program = _cookie_program(seeds)
    oracle = spider(program, CookieFetcher())
    eng = CrawlEngine(
        spark, None, str(tmp_path / "work"), politeness_k=None,
        fetch_mode="callable", fetch_fn=fetch_fn,
    )
    eng.run(program, max_rounds=10)
    assert_parity(oracle, eng)
    return oracle


def test_cookie_threads_through_click(spark, tmp_path):
    """The cookie set by /a is sent on the subsequent click to /b — the
    per-branch jar rides the frontier (hypertext-browser/base.rkt:78-94)."""
    oracle = _run_cookie_both(spark, tmp_path, [_cookie_site()[0]])
    assert oracle.fly_values == ["secret"]


def test_cookie_memoized_first_fetch_wins(spark, tmp_path):
    """Two branches reach /b; the DFS-first branch (no cookie) fetches it,
    and the cookie-holding branch REPLAYS the memoized 'denied' response —
    the reference's url-keyed cache semantics (browser-services.rkt:35-47),
    reproduced distributed via the min-path-jar fetch."""
    A, A2 = _cookie_site()[0], _cookie_site()[1]
    oracle = _run_cookie_both(spark, tmp_path, [A2, A])
    assert oracle.fly_values == ["denied", "denied"]


def test_resume_callable_mode_with_store(spark, corpus, tmp_path):
    """Kill a callable-mode (fused fetch) crawl after 2 rounds, resume in a
    fresh engine: cache hits of pre-kill fetches must replay from the seen
    sink's stored bodies, the final output must match the oracle exactly,
    and no url may be fetched (= seen) twice across the kill — the
    fetch-once contract that matters for live fetchers."""
    _, pages_dict = corpus
    seeds = webgen.seeds_for(N_PAGES, SEED)
    program = flagship_program(seeds)
    oracle = spider(program, SnapshotFetcher(pages_dict))

    def fetch_fn(urls):
        return [
            (pages_dict.get(u), 200) if u in pages_dict else (None, 404)
            for u in urls
        ]

    eng1 = CrawlEngine(
        spark, None, str(tmp_path / "work"), politeness_k=4,
        fetch_mode="callable", fetch_fn=fetch_fn,
    )
    eng1.run(program, max_rounds=2)  # partial crawl
    eng2 = CrawlEngine(
        spark, None, str(tmp_path / "work"), politeness_k=4,
        fetch_mode="callable", fetch_fn=fetch_fn,
    )
    eng2.run(program, max_rounds=50, resume=True)
    assert_parity(oracle, eng2)
    # fetch-once across the kill: each url appears in exactly one seen
    # round
    seen = eng2.seen_df().select("url_canon", "round").distinct()
    assert seen.groupBy("url_canon").count().where("count > 1").count() == 0


def test_fetch_once_across_arrow_batches(spark, tmp_path):
    """A url whose request rows straddle an Arrow batch boundary is still
    fetched exactly once: the round's Python stage carries the response of
    the url in progress across batches (udfs.py make_round_fn). 41
    branches reach one url with maxRecordsPerBatch=2, so its rows span ~20
    batches."""
    log = tmp_path / "calls"
    log.mkdir()

    def fetch_fn(urls):
        import uuid as _uuid

        (log / _uuid.uuid4().hex).write_text("\n".join(urls))
        return [("<html><body><p>leaf</p></body></html>", 200) for _ in urls]

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        program = Go(
            Lit(["http://x.test/a"] * 41),
            Extract(First(XpathTextE("//p"))),
        )
        eng = CrawlEngine(
            spark, None, str(tmp_path / "w"), politeness_k=None,
            fetch_mode="callable", fetch_fn=fetch_fn,
        )
        eng.run(program, max_rounds=3)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    fetched = [
        u for p in log.iterdir() for u in p.read_text().splitlines() if u
    ]
    assert fetched == ["http://x.test/a"], fetched
    # and the extraction stream still fans out per branch
    assert eng.results_df().count() == 41


@pytest.mark.parametrize("mode", ["callable", "snapshot"])
def test_replay_across_arrow_batches(spark, corpus, tmp_path, mode):
    """The round's one Python stage keeps a url's response, seen row and
    eval memo across Arrow batch boundaries and resets them when the url
    changes (udfs.py make_round_fn). With maxRecordsPerBatch=1 every body
    row (a replayed url's seen row, or a snapshot page row) sits in a
    different batch from each of its request rows, and fresh and replayed
    urls share partitions, so a worker that lost the carried response, or
    leaked one url's response into the next, would break parity; and a
    replayed url must never reach fetch_fn again."""
    pages_df, pages_dict = corpus
    log = tmp_path / "calls"
    log.mkdir()

    def fetch_fn(urls):
        import uuid as _uuid

        (log / _uuid.uuid4().hex).write_text("\n".join(urls))
        return [
            (pages_dict.get(u), 200 if u in pages_dict else 404) for u in urls
        ]

    seeds = webgen.seeds_for(N_PAGES, SEED)
    program = flagship_program(seeds)
    oracle = spider(program, SnapshotFetcher(pages_dict))
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
    try:
        if mode == "callable":
            eng = CrawlEngine(
                spark, None, str(tmp_path / "work"), politeness_k=None,
                fetch_mode="callable", fetch_fn=fetch_fn,
            )
        else:
            eng = CrawlEngine(
                spark, pages_df, str(tmp_path / "work"), politeness_k=None,
            )
        eng.run(program, max_rounds=50)
        assert_parity(oracle, eng)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    # the replay really ran
    replayed = [
        eng.table.round_metrics(r)["routed"]["replay"]
        for r in eng.table.committed_rounds()
    ]
    assert sum(replayed) > 0, replayed
    fetched = [
        u for p in log.iterdir() for u in p.read_text().splitlines() if u
    ]
    assert len(fetched) == len(set(fetched))


def test_parity_forced_distributed_paths(spark, corpus, tmp_path):
    """broadcast_seen_limit=0 forces every at-scale branch the sandbox's
    small rounds normally skip: the Bloom-prefilter + shuffle anti-join
    seen check, and the distributed applyInPandas bloom fold (only
    (bucket, bitset, counters) rows reach the driver). Parity must be
    byte-identical to the oracle either way."""
    _, pages_dict = corpus

    def fetch_fn(urls):
        return [
            (pages_dict.get(u), 200 if u in pages_dict else 404) for u in urls
        ]

    seeds = webgen.seeds_for(N_PAGES, SEED)
    program = flagship_program(seeds)
    oracle = spider(program, SnapshotFetcher(pages_dict))
    eng = CrawlEngine(
        spark, None, str(tmp_path / "work"), politeness_k=7,
        fetch_mode="callable", fetch_fn=fetch_fn, broadcast_seen_limit=0,
    )
    summary = eng.run(program, max_rounds=50)
    assert summary.rounds > 3
    assert_parity(oracle, eng)
    # the distributed fold really populated the driver's shard map
    assert eng.bloom is not None and eng.bloom.shards


def test_resume_bloom_rebuild_is_distributed_and_complete(spark, corpus, tmp_path):
    """The resume-path Bloom rebuild must (a) run through the distributed
    per-bucket fold — no seen-scaled frame ever reaches the driver — and
    (b) leave the prefilter with zero false negatives: every url in the
    seen sink flags maybe-seen in its shard."""
    pages_df, pages_dict = corpus
    seeds = webgen.seeds_for(N_PAGES, SEED)
    program = flagship_program(seeds)

    eng1 = CrawlEngine(spark, pages_df, str(tmp_path / "work"), politeness_k=4)
    eng1.run(program, max_rounds=2)  # partial crawl, seen sink non-empty

    eng2 = CrawlEngine(spark, pages_df, str(tmp_path / "work"), politeness_k=4)
    # run() with resume triggers the rebuild before any round executes;
    # cap at the already-committed rounds so only the rebuild runs
    done = eng2.table.committed_rounds()
    eng2.run(program, max_rounds=done[-1] + 1, resume=True)
    assert eng2.bloom.shards, "rebuild left the bloom empty"

    seen = eng1._read_sink("seen").select("bucket", "url_hash").toPandas()
    assert len(seen) > 0
    flags = eng2.bloom.filter_frame(seen)
    assert bool(flags.all()), "resume bloom has false negatives"


def test_webgen_uniform_host_dist(monkeypatch):
    """BORIS_HOST_DIST=uniform (the scaling bench's matched-round control
    tier) re-shapes host ranges to equal sizes while page ids, bytes, and
    link targets (in id space) stay identical to the zipf default."""
    n = 10000
    zipf_bounds = webgen._host_bounds_for(n, "zipf")
    uni_bounds = webgen._host_bounds_for(n, "uniform")
    assert zipf_bounds[1] == n // 2  # host 0 owns half under zipf
    sizes = [b - a for a, b in zip(uni_bounds, uni_bounds[1:] + [n])]
    assert max(sizes[:-1]) - min(sizes[:-1]) <= 1  # equal up to the tail
    assert len(uni_bounds) == webgen.n_hosts(n)

    monkeypatch.setenv("BORIS_HOST_DIST", "uniform")
    # page bytes are dist-independent except for the host name in the title
    html_u = webgen.page_html(1234, n, 42)
    url_u = webgen.page_url(1234, n, 42)
    # url->page inverse holds under the uniform dist
    assert webgen.page_of_url(url_u, n, 42) == 1234
    # link targets resolve to the same page ids as under zipf
    links_u = [webgen.page_of_url(u, n, 42) for u in webgen.out_links(1234, n, 42)]
    monkeypatch.setenv("BORIS_HOST_DIST", "zipf")
    links_z = [webgen.page_of_url(u, n, 42) for u in webgen.out_links(1234, n, 42)]
    assert links_u == links_z
    assert webgen.page_html(1234, n, 42) != html_u  # host name differs


def _page_fetch_fn(pages_dict):
    def fetch_fn(urls):
        return [
            (pages_dict.get(u), 200 if u in pages_dict else 404) for u in urls
        ]

    return fetch_fn


def test_politeness_window_recorded_only_when_it_can_bind(spark, corpus, tmp_path):
    """The round manifest records whether the two-phase politeness window
    ran. Without per-host budgets it runs only when the round holds more
    request rows than the budget: never at a budget no round reaches, and
    on every larger round at k=3. Oracle parity holds either way."""
    seeds = webgen.seeds_for(N_PAGES, SEED)
    for k, name in ((100_000, "loose"), (3, "tight")):
        oracle, eng, _ = run_both(
            spark, corpus, flagship_program(seeds), tmp_path / name,
            politeness_k=k,
        )
        assert_parity(oracle, eng)
        windows = [
            (m["requests"] > k, m["politeness_window"])
            for m in map(eng.table.round_metrics, eng.table.committed_rounds())
        ]
        assert all(binding == ran for binding, ran in windows), windows
        assert any(ran for _, ran in windows) == (k == 3), windows


def test_worker_seen_delta_matches_jvm_aggregate(spark, corpus, tmp_path):
    """The fused stage's workers write each fetched url's seen row. With
    maxRecordsPerBatch=1 every url's rows straddle Arrow batches, and each
    round's seen delta must still equal the JVM aggregate it replaces: a
    groupBy over frontier delta r restricted to the urls first seen in r —
    min path_key, pmod(url_hash, n_buckets), and the status the test's
    own fetcher gives the url."""
    from pyspark.sql import functions as F

    from boris_spark.engine.crawler import REQUEST_SCHEMA, SEEN_SCHEMA

    _, pages_dict = corpus
    program = flagship_program(webgen.seeds_for(N_PAGES, SEED))
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
    try:
        eng = CrawlEngine(
            spark, None, str(tmp_path / "work"), politeness_k=None,
            n_buckets=7, fetch_mode="callable",
            fetch_fn=_page_fetch_fn(pages_dict),
        )
        eng.run(program, max_rounds=50)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    cols = ["url_hash", "url_canon", "host", "bucket", "status", "path_first"]
    status = (
        F.when(F.col("url_canon").isin(list(pages_dict)), 200)
        .otherwise(404).cast("int")
    )
    seen = eng.seen_df()
    n_checked = 0
    for r in eng.table.committed_rounds():
        got = []
        if eng.table.delta_rows("seen", r):
            got = eng.table.delta_df("seen", r, SEEN_SCHEMA).select(*cols).collect()
        want = (
            eng.table.delta_df("frontier", r, REQUEST_SCHEMA)
            .join(
                seen.where(F.col("round") < r).select("url_canon"),
                "url_canon", "left_anti",
            )
            .groupBy("url_canon")
            .agg(
                F.first("url_hash").alias("url_hash"),
                F.first("host").alias("host"),
                F.min("path_key").alias("path_first"),
            )
            .withColumn("status", status)
            .withColumn("bucket", F.pmod("url_hash", F.lit(7)).cast("int"))
            .select(*cols).collect()
        )
        assert len(got) == len({row["url_canon"] for row in got})
        assert sorted(map(tuple, got)) == sorted(map(tuple, want)), r
        n_checked += len(want)
    assert n_checked == eng.seen_df().count() > 20


def test_resume_sweeps_stale_inboxes(spark, corpus, tmp_path):
    """A round killed after its workers wrote inbox files leaves them
    behind. Resuming must discard them (the durable sinks and manifests
    are the resume state): a stale seen row for an already-seen url, with
    a stale body, would otherwise be adopted into the next round."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    _, pages_dict = corpus
    program = flagship_program(webgen.seeds_for(N_PAGES, SEED))
    oracle = spider(program, SnapshotFetcher(pages_dict))
    work = tmp_path / "work"
    mk = lambda: CrawlEngine(  # noqa: E731
        spark, None, str(work), politeness_k=4, fetch_mode="callable",
        fetch_fn=_page_fetch_fn(pages_dict),
    )
    mk().run(program, max_rounds=1)
    url, url_h, host = (
        mk().seen_df().select("url_canon", "url_hash", "host").first()
    )
    (work / "seen_inbox").mkdir()
    pq.write_table(
        pa.table({
            "url_hash": pa.array([url_h], pa.int64()), "url_canon": [url],
            "host": [host], "bucket": pa.array([0], pa.int32()),
            "status": pa.array([500], pa.int32()), "path_first": ["0"],
            "body": ["<p>stale</p>"], "head": pa.array([None], pa.string()),
        }),
        str(work / "seen_inbox" / "part-99999-0000.parquet"),
    )
    eng = mk()
    eng.run(program, max_rounds=50, resume=True)
    assert_parity(oracle, eng)
    seen = eng.seen_df()
    assert seen.count() == seen.select("url_canon").distinct().count()
    assert seen.where("status = 500").count() == 0


def test_fetch_free_recur_loop_raises_on_driver_and_worker(spark, corpus, tmp_path):
    """A label/recur loop with no fetch in it never reaches a fixpoint.
    The depth guard must stop it both where the root evaluates (the
    driver, before round 0) and where a fetched page evaluates (the
    Python worker of the fused stage)."""
    _, pages_dict = corpus
    seed = webgen.page_url(0, N_PAGES, SEED)
    for i, program in enumerate((
        Label("l", Recur("l")),
        Go(seed, Label("l", Recur("l"))),
    )):
        eng = CrawlEngine(
            spark, None, str(tmp_path / f"work{i}"), politeness_k=None,
            fetch_mode="callable", fetch_fn=_page_fetch_fn(pages_dict),
        )
        with pytest.raises(Exception, match="cascade depth exceeded"):
            eng.run(program, max_rounds=5)


def test_pagination_results_one_delta_per_round(spark, corpus, tmp_path):
    """Nested states (let/label/recur) evaluate in place, so a round's
    results land in ONE results delta, keyed by the round alone (round r
    → delta r+1; the root's own evaluation owns delta 0) — never one
    delta per nesting level."""
    seed_url = webgen.page_url(0, N_PAGES, SEED)
    oracle, eng, _ = run_both(
        spark, corpus, pagination_program(seed_url), tmp_path, politeness_k=None
    )
    assert_parity(oracle, eng)
    deltas = sorted(
        int(d.split("=")[1])
        for d in os.listdir(tmp_path / "work" / "results")
        if d.startswith("round=")
    )
    with_results = [
        r + 1 for r in eng.table.committed_rounds()
        if eng.table.round_metrics(r)["results"] > 0
    ]
    assert with_results and deltas == with_results


def test_torn_round_manifest_is_not_committed(spark, corpus, tmp_path, monkeypatch):
    """A kill while round N's manifest is being written must not leave a
    torn ``N.json`` that counts as committed: the manifest is written to a
    tmp name and renamed into place, so resume reruns round N. The deltas
    round N adopted before the kill are rolled back first, so the rerun
    records the same seen rows (round, path_first) as an unkilled crawl."""
    from boris_spark.engine import tableformat

    _, pages_dict = corpus
    program = flagship_program(webgen.seeds_for(N_PAGES, SEED))
    oracle = spider(program, SnapshotFetcher(pages_dict))
    mk = lambda work: CrawlEngine(  # noqa: E731
        spark, None, str(work), politeness_k=None, fetch_mode="callable",
        fetch_fn=_page_fetch_fn(pages_dict),
    )
    clean = mk(tmp_path / "clean")
    clean.run(program, max_rounds=50)
    work = tmp_path / "work"
    real_dump = json.dump

    def torn_dump(obj, f, *a, **kw):
        if not os.path.basename(f.name).startswith("1.json"):
            return real_dump(obj, f, *a, **kw)
        f.write('{"fetched": ')  # half of round 1's manifest, then the kill
        raise OSError("killed mid-write")

    monkeypatch.setattr(tableformat.json, "dump", torn_dump)
    with pytest.raises(OSError, match="killed mid-write"):
        mk(work).run(program, max_rounds=50)
    monkeypatch.undo()
    eng = mk(work)
    assert eng.table.committed_rounds() == [0]
    eng.run(program, max_rounds=50, resume=True)
    assert_parity(oracle, eng)
    cols = ["url_canon", "status", "round", "path_first"]
    assert sorted(eng.seen_df().select(*cols).collect()) == sorted(
        clean.seen_df().select(*cols).collect()
    )


def test_routed_counts_in_every_mode(spark, corpus, tmp_path):
    """Every round manifest records how its request rows were routed
    (fresh / replay / deferred), the routes cover every row, and
    snapshot and callable crawls route identically — one round path. The
    snapshot crawl runs at two records per Arrow batch: batches mix page
    rows with request rows (whose 64-bit url hashes must survive the
    union into pandas), and a url's page row often ends a batch apart
    from its requests. Its seen rows store no body (its pages table is the
    body source); every fetched callable seen row does. The politeness
    budget binds, so cache hits replay in many rounds, and the callable
    crawl never fetches a url twice."""
    pages_df, pages_dict = corpus
    log = tmp_path / "calls"
    log.mkdir()

    def fetch_fn(urls):
        import uuid as _uuid

        (log / _uuid.uuid4().hex).write_text("\n".join(urls))
        return [
            (pages_dict.get(u), 200 if u in pages_dict else 404) for u in urls
        ]

    program = flagship_program(webgen.seeds_for(N_PAGES, SEED))
    oracle = spider(program, SnapshotFetcher(pages_dict))
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        snap = CrawlEngine(spark, pages_df, str(tmp_path / "s"), politeness_k=7)
        snap.run(program, max_rounds=50)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    call = CrawlEngine(
        spark, None, str(tmp_path / "c"), politeness_k=7,
        fetch_mode="callable", fetch_fn=fetch_fn,
    )
    call.run(program, max_rounds=50)
    routes = []
    for eng in (snap, call):
        assert_parity(oracle, eng)
        per_round = []
        for r in eng.table.committed_rounds():
            m = eng.table.round_metrics(r)
            assert sorted(m["routed"]) == ["deferred", "fresh", "replay"]
            assert sum(m["routed"].values()) == m["requests"], (r, m)
            per_round.append(m["routed"])
        routes.append(per_round)
    assert routes[0] == routes[1]
    # the same seen rows, 64-bit url hashes and buckets included
    cols = ["url_hash", "url_canon", "bucket", "status", "round", "path_first"]
    assert sorted(snap.seen_df().select(*cols).collect()) == sorted(
        call.seen_df().select(*cols).collect()
    )
    for seg in ("fresh", "replay", "deferred"):
        assert any(r[seg] for r in routes[0]), (seg, routes[0])
    assert snap._read_sink("seen").where("body IS NOT NULL").count() == 0
    assert call._read_sink("seen").where("body IS NULL").count() == 0
    fetched = [
        u for p in log.iterdir() for u in p.read_text().splitlines() if u
    ]
    assert len(fetched) == len(set(fetched))


def test_seen_df_columns_do_not_depend_on_state(spark, corpus, tmp_path):
    """``seen_df()`` has the same columns, ``round`` included, whether or
    not the crawl saw anything: a caller that groups by round also runs on
    a program that never navigates."""
    pages_df, _ = corpus
    idle = CrawlEngine(spark, pages_df, str(tmp_path / "idle"), politeness_k=None)
    idle.run(Extract(Lit("no page")), max_rounds=5)
    assert idle.seen_df().groupBy("round").count().collect() == []
    busy = CrawlEngine(spark, pages_df, str(tmp_path / "busy"), politeness_k=None)
    busy.run(
        Go(Lit(webgen.seeds_for(N_PAGES, SEED)[:2]), Extract(UrlE())),
        max_rounds=5,
    )
    assert busy.seen_df().count() == 2
    assert idle.seen_df().dtypes == busy.seen_df().dtypes
