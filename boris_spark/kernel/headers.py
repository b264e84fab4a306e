"""HTTP header codecs — replicates
/root/reference/hypertext-browser/http/head.rkt:60-103 for the live-fetch
path. Headers are alists of (Title-Cased-name, value) pairs so they round-
trip through Arrow as ``array<struct<name,value>>`` / JSON columns.
"""

from __future__ import annotations

import re

from .cookies import Cookie, cookies_set_star, set_cookie_to_cookie

Headers = list[tuple[str, str]]

_FIELD_RE = re.compile(rb"([^:]*):(.*)", re.S)


def _titlecase(s: str) -> str:
    """Racket string-titlecase: first letter of each word upper, rest lower."""
    return re.sub(r"[A-Za-z]+", lambda m: m.group(0).capitalize(), s)


def headers_to_alist(fields: list[bytes]) -> Headers:
    """head.rkt:60-66: raw header lines → (Title-Cased name, value) pairs."""
    out: Headers = []
    for field in fields:
        m = _FIELD_RE.match(field)
        if not m:
            continue
        name, value = m.groups()
        out.append((
            _titlecase(name.decode("utf-8").strip()),
            value.decode("utf-8").strip(),
        ))
    return out


def alist_to_headers(alist: Headers) -> list[bytes]:
    """head.rkt:68-75."""
    return [f"{k}: {v}".encode("utf-8") for k, v in alist]


def headers_set(headers: Headers, field: str, value: str) -> Headers:
    """head.rkt:77-82: replace-all-then-prepend semantics."""
    return [(field, value)] + [(k, v) for k, v in headers if k != field]


def headers_set_cookies(
    headers: Headers, request_url: str, stale_cookies: list[Cookie] | None = None
) -> list[Cookie]:
    """head.rkt:87-92: fold all Set-Cookie fields into the jar."""
    fresh = [
        c
        for k, v in headers
        if k == "Set-Cookie"
        for c in [set_cookie_to_cookie(v, request_url)]
        if c is not None
    ]
    return cookies_set_star(list(stale_cookies or []), fresh)


def headers_location(headers: Headers) -> str | None:
    """head.rkt:101-103: first Location value or None."""
    for k, v in headers:
        if k == "Location":
            return v
    return None
