"""Golden tests lifted verbatim from the reference's rackunit literals.

Every expected value below is a literal from a ``module+ test`` block in
/root/reference/ (cited per test). These ARE the reference's own test suite,
re-expressed in pytest per BASELINE.json input_hint ("verified against
Boris's own test suite via `python -m pytest -x -q`").
"""

from boris_spark.kernel import (
    canonicalize,
    forms,
    form_fill,
    html_decode,
    html_decode_star,
    links,
    links_text,
    parse_url,
    resolve,
    xpath,
    xpath_first,
    xpath_text,
)
from boris_spark.kernel.urlkit import path_query_fragment, path_string


# ---- hypertext-browser/url.rkt:59-67 ----------------------------------


def _pqf(u: str) -> str:
    return path_query_fragment(parse_url(u))


def test_url_path_string_empty():
    # url.rkt:61
    assert path_string(parse_url("http://foo.com")) == "/"


def test_url_pqf_query_fragment():
    # url.rkt:62 — query not re-encoded, space + '?' preserved in value
    assert _pqf("http://foo.com/bar?baz=f i?#fo") == "/bar?baz=f i?#fo"


def test_url_pqf_query_only():
    # url.rkt:63
    assert _pqf("http://foo.com/bar?baz=f i?") == "/bar?baz=f i?"


def test_url_pqf_bare_host():
    # url.rkt:64-65
    assert _pqf("http://foo.com") == "/"
    assert _pqf("http://foo.com/") == "/"


def test_url_pqf_trailing_slash():
    # url.rkt:66-67
    assert _pqf("http://foo.com/bar/") == "/bar/"
    assert _pqf("http://foo.com/bar") == "/bar"


def test_canonicalize_drops_port_and_userinfo():
    # url.rkt:37-38: url->string/raw = scheme "://" host path... —
    # port and userinfo never appear.
    assert canonicalize("http://user:pw@foo.com:8080/bar") == "http://foo.com/bar"


def test_canonicalize_empty_query_list():
    # url.rkt:44: '?' with empty parsed query list renders as nothing
    assert canonicalize("http://foo.com/bar?") == "http://foo.com/bar"


def test_canonicalize_trims_whitespace():
    # url.rkt:34-35 note: string->url should trim whitespace
    assert canonicalize("  http://foo.com/bar \n") == "http://foo.com/bar"


def test_resolve_relative():
    # hypertext-browser/main.rkt:31-36: scheme-less resolves against current
    assert resolve("http://foo.com/a/b", "c") == "http://foo.com/a/c"
    assert resolve("http://foo.com/a/b", "/c") == "http://foo.com/c"
    assert resolve("http://foo.com/a/b", "http://bar.com/x") == "http://bar.com/x"
    assert resolve(None, "http://bar.com/x") == "http://bar.com/x"


# ---- hypertext-browser/html/html-entities.rkt:51-54 --------------------


def test_html_decode():
    assert html_decode("&#38;") == "&"


def test_html_decode_star():
    assert html_decode_star("&#38;#38;") == "&"


def test_html_decode_unknown_entity_intact():
    # html-entities.rkt:35-41 — table has exactly 4 entries; unknown intact
    assert html_decode("&lt;") == "&lt;"
    assert html_decode("&amp;") == "&"
    assert html_decode("&#x3a;") == ":"
    assert html_decode("&#x2f;") == "/"


# ---- hypertext-browser/html/xpath.rkt:57-83 ----------------------------

TEST_HTML = "<span><p><b>p1</b></p><p><b>p2</b></p><p><b>p3</b></p></span>"


def test_xpath_p():
    assert xpath(TEST_HTML, "//p") == [
        "<p><b>p1</b></p>", "<p><b>p2</b></p>", "<p><b>p3</b></p>",
    ]


def test_xpath_b():
    assert xpath(TEST_HTML, "//b") == ["<b>p1</b>", "<b>p2</b>", "<b>p3</b>"]


def test_xpath_list_input():
    assert xpath(xpath(TEST_HTML, "//p"), "//b") == [
        "<b>p1</b>", "<b>p2</b>", "<b>p3</b>",
    ]


def test_xpath_list_input_flatten():
    # xpath.rkt:71
    assert xpath(
        xpath("<p><b>b1</b><b>b2</b></p><p><b>pb3</b><b>b4</b></p>", "//p"), "//b"
    ) == ["<b>b1</b>", "<b>b2</b>", "<b>pb3</b>", "<b>b4</b>"]


def test_xpath_empty_text_skipped():
    # xpath.rkt:73
    assert xpath("<p></p><p></p>", "//p/text()") == []


def test_xpath_text_preserves_empty():
    # xpath.rkt:76
    assert xpath_text("<p></p><p></p>", "//p") == ["", ""]


def test_xpath_text_direct_children_only():
    # xpath/text takes only *direct* text children (query "/*/text()",
    # xpath.rkt:47-49): nested markup yields "".
    assert xpath_text("<p><b>x</b></p>", "//p") == [""]
    assert xpath_text("<p>hi</p>", "//p") == ["hi"]
    assert xpath_text("<p>  hi \n</p>", "//p") == ["hi"]


def test_xpath_first():
    # xpath.rkt:79-83
    assert xpath_first(TEST_HTML, "//b/text()") == "p1"
    assert xpath_first(TEST_HTML, "/foo") is None
    assert xpath_first(TEST_HTML, "/foo", "bar") == "bar"


# ---- hypertext-browser/html/links.rkt:47-57 ----------------------------

LINKS_HTML = "<p><a href='foo'>bar</a></p><a href='fee'>baz</a>"


def test_links_bfs_order():
    # links.rkt:52 golden — BFS level-order, NOT document order
    assert links(LINKS_HTML) == ["fee", "foo"]


def test_links_regex():
    assert links(LINKS_HTML, "fo") == ["foo"]
    assert links(LINKS_HTML, "fe") == ["fee"]


def test_links_text():
    assert links_text(LINKS_HTML, "bar") == ["foo"]


# ---- hypertext-browser/html/forms.rkt:89-104 ---------------------------

FORM = (
    "<form action=/foo/bar method=put>"
    "<input id=foo name=baz value='bar'></input>"
    "<input name=foo value=biz></input></form>"
)


def test_form_fill():
    assert form_fill(FORM, [("foo", "bez")]) == (
        "/foo/bar", "PUT", [("foo", "bez"), ("baz", "bar")],
    )


def test_form_fill_twice():
    assert form_fill(form_fill(FORM, [("foo", "bez")]), [("fii", "biiz")]) == (
        "/foo/bar", "PUT", [("fii", "biiz"), ("foo", "bez"), ("baz", "bar")],
    )


def test_forms_concatenated():
    assert forms(FORM + FORM, [("foo", "bez")]) == [
        ("/foo/bar", "PUT", [("foo", "bez"), ("baz", "bar")]),
        ("/foo/bar", "PUT", [("foo", "bez"), ("baz", "bar")]),
    ]


def test_forms_list_input():
    assert forms([FORM, FORM]) == [
        ("/foo/bar", "PUT", [("baz", "bar"), ("foo", "biz")]),
        ("/foo/bar", "PUT", [("baz", "bar"), ("foo", "biz")]),
    ]


# ---- utils/emd/emd.rkt + predicates used by the demo crawls ------------


def test_xpath_attr_predicate():
    html = "<td class='title'><a href='u1'>t1</a></td><td class='x'><a href='u2'>t2</a></td>"
    assert xpath(html, "//td[@class='title']/a/@href/text()") == ["u1"]


def test_xpath_group_index():
    # hn-crawl.rkt:8: (//td[@class='title']/a/@href/text())[1]
    html = "<td class='title'><a href='u1'>t1</a></td><td class='title'><a href='u2'>t2</a></td>"
    assert xpath(html, "(//td[@class='title']/a/@href/text())[1]") == ["u1"]


def test_xpath_text_eq_predicate():
    # hn-crawl.rkt:31: //td[@class='title']/a[text() = 'More']/@href/text()
    html = (
        "<td class='title'><a href='next'>More</a></td>"
        "<td class='title'><a href='u1'>story</a></td>"
    )
    assert xpath(html, "//td[@class='title']/a[text() = 'More']/@href/text()") == ["next"]


def test_xpath_position_predicates():
    # wiki-crawl.rkt:23: //div[@id='x']/ul[position()>1]/li/a[1]/@href/text()
    html = (
        "<div id='x'>"
        "<ul><li><a href='skip'>s</a></li></ul>"
        "<ul><li><a href='a1'>x</a><a href='a2'>y</a></li>"
        "<li><a href='b1'>z</a></li></ul>"
        "</div>"
    )
    assert xpath(html, "//div[@id='x']/ul[position()>1]/li/a[1]/@href/text()") == [
        "a1", "b1",
    ]


def test_xpath_union_order():
    # forms.rkt:81: "/input/@name/text() | /input/@id/text()" — name first
    inp = '<input id="foo" name="baz" value="bar">'
    assert xpath(inp, "/input/@name/text() | /input/@id/text()") == ["baz", "foo"]


# ---- round-3 subset broadening: `..`, `[last()]`, `[@attr]` -------------


def test_xpath_parent_step():
    html = "<div><ul><li id='a'>x</li></ul><p>y</p></div>"
    # parent of the matched <li> is the <ul>
    assert xpath(html, "//li/..") == ["<ul><li id=\"a\">x</li></ul>"]


def test_xpath_parent_dedup():
    # two <li> children share one parent: the parent node-set is deduped
    html = "<ul><li>a</li><li>b</li></ul>"
    assert xpath(html, "//li/..") == ["<ul><li>a</li><li>b</li></ul>"]


def test_xpath_parent_then_step():
    html = "<div><span class='k'>key</span><b>val</b></div>"
    assert xpath_text(html, "//span[@class='k']/../b") == ["val"]


def test_xpath_last_predicate():
    html = "<ul><li>a</li><li>b</li><li>c</li></ul>"
    assert xpath_text(html, "//li[last()]") == ["c"]


def test_xpath_attr_existence_predicate():
    html = "<div><a href='x'>with</a><a>without</a></div>"
    assert xpath_text(html, "//a[@href]") == ["with"]
    assert xpath_text(html, "//a") == ["with", "without"]


def test_xpath_desc_parent_rejected():
    import pytest

    with pytest.raises(ValueError):
        xpath("<p>x</p>", "//..")


# ---- entity handling inside text nodes: pinned VERBATIM ------------------
# Decision (kernel/htmlkit.py module docstring): text and attribute values
# are kept verbatim through parse and serialize. The reference's 4-entity
# decode (html-entities.rkt:28-47) is applied exactly where the reference
# applies it EXPLICITLY (form actions, html-decode calls); the implicit
# entity decoding done by its third-party html->xexp parser is deliberately
# not replicated — the engine/oracle share this kernel, so extracted text
# stays byte-identical between them (the north-rule invariant).


def test_text_entities_verbatim_amp():
    assert xpath_text("<p>a&amp;b</p>", "//p") == ["a&amp;b"]


def test_text_entities_verbatim_numeric():
    assert xpath_text("<p>a&#x2f;b</p>", "//p") == ["a&#x2f;b"]


def test_text_entities_verbatim_roundtrip():
    # serialize-back also preserves the raw bytes
    assert xpath("<div><p>x&amp;y&#38;z</p></div>", "//p") == ["<p>x&amp;y&#38;z</p>"]


def test_entity_decode_explicit_api():
    # the EXPLICIT decode API still follows html-entities.rkt exactly
    assert html_decode("a&amp;b&#x2f;c") == "a&b/c"
    assert html_decode_star("&#38;#38;") == "&"


def test_form_action_entity_decoded():
    # forms.rkt: the action attribute IS decoded (via html_decode_star)
    f = forms("<form action='/go&#x2f;deep'><input name='n'></form>", {})
    assert f[0][0] == "/go/deep"


# ---- round-3b subset broadening: contains() / starts-with() --------------


def test_xpath_contains_attr():
    html = (
        "<div><a class='btn primary'>go</a>"
        "<a class='link'>no</a><a>bare</a></div>"
    )
    assert xpath_text(html, "//a[contains(@class, 'primary')]") == ["go"]
    assert xpath_text(html, "//a[starts-with(@class, 'btn')]") == ["go"]
    # absent attribute never matches
    assert xpath_text(html, "//a[contains(@class, '')]") == ["go", "no"]


def test_xpath_contains_text():
    html = "<ul><li>alpha one</li><li>beta two</li></ul>"
    assert xpath_text(html, "//li[contains(text(), 'one')]") == ["alpha one"]
    assert xpath_text(html, "//li[starts-with(text(), 'beta')]") == ["beta two"]


def test_xpath_contains_double_quoted_and_chained():
    html = "<div><p id='x1'>a</p><p id='y2'>b</p><p id='x9'>c</p></div>"
    assert xpath_text(html, '//p[starts-with(@id, "x")][2]') == ["c"]


def test_xpath_contains_malformed_rejected():
    import pytest

    with pytest.raises(ValueError):
        xpath("<p>x</p>", "//p[contains(@a 'v')]")
    with pytest.raises(ValueError):
        xpath("<p>x</p>", "//p[matches(@a, 'v')]")


# ---- round-4 subset broadening: following-sibling:: / ancestor:: ---------


def test_xpath_following_sibling():
    html = (
        "<html><body><div id='a'><h2>T1</h2><p>p1</p><p>p2</p></div>"
        "<div id='b'><h2>T2</h2><span>s</span><p>p3</p></div></body></html>"
    )
    assert xpath_text(html, "//h2/following-sibling::p") == ["p1", "p2", "p3"]
    # predicates number within each context node's own sibling list
    assert xpath_text(html, "//h2/following-sibling::p[1]") == ["p1", "p3"]
    assert xpath_text(html, "//h2/following-sibling::*[last()]") == ["p2", "p3"]
    # only siblings AFTER the context node
    assert xpath_text(html, "//span/following-sibling::*") == ["p3"]
    assert xpath_text(html, "//p[text()='p3']/following-sibling::p") == []


def test_xpath_following_sibling_text():
    html = "<p><b>k</b> v1 <b>k2</b> v2</p>"
    assert xpath(html, "//b[1]/following-sibling::text()") == [" v1 ", " v2"]


def test_xpath_ancestor():
    html = (
        "<html><body><div id='a'><ul><li><a href='u'>x</a></li></ul></div>"
        "<div id='b'><p>y</p></div></body></html>"
    )
    # proximity order: [1] is the NEAREST matching ancestor
    assert xpath(html, "//a/ancestor::div/@id/text()") == ["a"]
    assert xpath(html, "//a/ancestor::*[1]")[0].startswith("<li>")
    # chained back down after the axis step
    assert xpath_text(html, "//p/ancestor::div/p") == ["y"]
    # dedup across context nodes, first-appearance order
    html2 = "<div id='z'><p>1</p><p>2</p></div>"
    assert xpath(html2, "//p/ancestor::div/@id/text()") == ["z"]


def test_xpath_axis_boundaries_rejected():
    import pytest

    with pytest.raises(ValueError):
        xpath("<p>x</p>", "//following-sibling::p")
    with pytest.raises(ValueError):
        xpath("<p>x</p>", "//p/following-sibling::@id")
    with pytest.raises(ValueError):
        xpath("<p>x</p>", "//p/ancestor::text()")
    with pytest.raises(ValueError):  # still-unsupported axis stays loud
        xpath("<p>x</p>", "//p/preceding-sibling::b")


# ------------------------------------------------- main_text (boilerplate)

def test_main_text_realistic_article():
    # Hand-written real-world-shaped page: chrome in nav/header/footer,
    # a link-farm sidebar div, script/style noise, content in <article>.
    from boris_spark.kernel.htmlkit import main_text

    page = """<!doctype html>
<html><head><title>Widget fails under load — devblog</title>
<style>.x { display: none }</style>
<script>var analytics = "tracking";</script></head>
<body>
<header><h1>devblog</h1><a href="/subscribe">Subscribe now</a></header>
<nav><ul><li><a href="/">Home</a></li><li><a href="/archive">Archive</a></li></ul></nav>
<article>
  <h2>Widget fails under load: a post-mortem of last Tuesday</h2>
  <p>On Tuesday the widget service fell over when the queue depth
     crossed ten thousand; this post walks through the failure.</p>
  <p>The root cause was a retry loop that doubled the load exactly
     when the backend was least able to absorb it. See
     <a href="/retry">our retry guide</a> for the general pattern.</p>
</article>
<div class="sidebar">
  <a href="/p1">Popular post one</a> <a href="/p2">Popular post two</a>
  <a href="/p3">Popular post three</a>
</div>
<footer>Copyright 2026 devblog. <a href="/tos">Terms</a></footer>
</body></html>"""
    assert main_text(page) == (
        "Widget fails under load: a post-mortem of last Tuesday\n"
        "On Tuesday the widget service fell over when the queue depth "
        "crossed ten thousand; this post walks through the failure.\n"
        "The root cause was a retry loop that doubled the load exactly "
        "when the backend was least able to absorb it. See "
        "our retry guide for the general pattern."
    )


def test_main_text_link_density_boundary():
    from boris_spark.kernel.htmlkit import main_text_blocks

    # exactly at the 0.4 boundary: 40 total chars, 16 link chars → kept
    kept = "<p>aaaaaaaaaaaaaaaaaaaaaaaa<a href=x>bbbbbbbbbbbbbbbb</a></p>"
    assert len(main_text_blocks(kept)) == 1
    # one char over: 17/41 > 0.4 → dropped
    dropped = "<p>aaaaaaaaaaaaaaaaaaaaaaaa<a href=x>bbbbbbbbbbbbbbbbb</a></p>"
    assert main_text_blocks(dropped) == []


def test_main_text_edge_cases():
    from boris_spark.kernel.htmlkit import main_text, main_text_blocks

    assert main_text("") == ""
    assert main_text("<nav><a href=/>only navigation chrome here</a></nav>") == ""
    # nested blocks: only the leaves segment
    assert main_text_blocks(
        "<div><section><p>The innermost paragraph is the one that counts "
        "here.</p></section></div>"
    ) == ["The innermost paragraph is the one that counts here."]
    # table layout: long td kept, link-only td dropped
    assert main_text_blocks(
        "<table><tr><td>Cell one carries enough prose to count as body "
        "content.</td><td><a href=a>x</a> <a href=b>y</a></td></tr></table>"
    ) == ["Cell one carries enough prose to count as body content."]
    # prune subtree wins even when block-shaped content hides inside it
    assert main_text(
        "<footer><p>Legal boilerplate long enough to pass the length "
        "bar easily.</p></footer>"
    ) == ""


# ------------------------------------------------------------- page profile


def test_page_profile_scalar_parity():
    """The vectorized page_profile (numpy simhash votes, cached token
    hashes, streamed minhash states, split/join fingerprint normalize) is
    VALUE-IDENTICAL to the round-1 scalar construction."""
    import hashlib
    import re

    from boris_spark.kernel import htmlkit
    from boris_spark.synth import webgen

    def scalar_profile(html, minhash_perms=4):
        title, text, n_links, n_tokens = htmlkit.page_features(html)
        norm = re.sub(r"\s+", " ", text)
        fingerprint = hashlib.md5(norm.encode()).hexdigest()
        toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
        votes = [0] * 60
        for tok in set(toks):
            h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
            for b in range(60):
                votes[b] += 1 if (h >> b) & 1 else -1
        simhash = sum(1 << b for b in range(60) if votes[b] > 0)
        shingles = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        sig = []
        for p in range(minhash_perms):
            salt = f"{p}:".encode()
            m = min(
                (int.from_bytes(
                    hashlib.md5(salt + s.encode()).digest()[:8], "big")
                 for s in shingles),
                default=0,
            )
            sig.append(m)
        return [title, text, n_links, n_tokens, fingerprint, simhash, sig]

    pages = [webgen.page_row(i, 2000, 7, 4)["html"] for i in range(40)]
    pages = [h.decode() if isinstance(h, (bytes, bytearray)) else h
             for h in pages]
    edge = ["", "<html></html>",
            "<p>  padded  </p><p></p>", "<p>\t\nws runs </p>"]
    for h in pages + edge:
        assert htmlkit.page_profile(h, 4) == scalar_profile(h, 4)


def test_ws_normalize_matches_regex_sub():
    import re

    from boris_spark.kernel.htmlkit import _ws_normalize

    import random

    rng = random.Random(11)
    chars = " \t\n\r\f\v\x1c\xa0ab."
    for _ in range(3000):
        s = "".join(rng.choice(chars) for _ in range(rng.randint(0, 40)))
        assert _ws_normalize(s) == re.sub(r"\s+", " ", s), repr(s)
