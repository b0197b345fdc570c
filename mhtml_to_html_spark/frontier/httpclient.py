"""Real HTTP fetch client behind the same seam as the scripted double.

The reference does a live ``fetch()`` with streaming bodies and a
retry loop (lib/convert.js:165-230); this repo's crawl engine normally
runs the deterministic scripted double (frontier/fixtures.py — the
reference's own test technique, test/helpers/fetch.js) because the
sandbox has no outbound network. This module is the PRODUCTION seam:
the same (status, attempts, delay_ms) contract, implemented over real
sockets with stdlib urllib (no extra dependencies), exercised in tests
against a local stub server (tests/test_httpclient.py) serving real
bytes with scripted 200/404/429+Retry-After/503 behavior.

Retry contract — shared CODE, not just shared semantics: transience,
exponential backoff (500ms·2^attempt capped 5s), and Retry-After
parsing (seconds or HTTP-date, rejected beyond the cap) all come from
frontier.fixtures, so the double and the real client can never drift.

The crawl calls :func:`fetch_url_with_retries` once per URL from
``spark_frontier.fetch_row``. Politeness stays upstream in the
scheduler; this module only turns URLs into bytes.
"""

from __future__ import annotations

import time

from .fixtures import (
    MAX_RETRIES,
    backoff_delay_ms,
    is_transient,
    retry_delay_ms,
)

DEFAULT_TIMEOUT_S = 10.0
MAX_REDIRECTS = 20  # the WHATWG fetch() cap the reference inherits
_REDIRECT_CODES = frozenset({301, 302, 303, 307, 308})


def _decode_body(body: bytes, content_encoding: str | None) -> bytes:
    """Transparent ``Content-Encoding`` handling — the reference's
    ``fetch()`` decompresses before the caller ever sees bytes
    (lib/convert.js:175-185). gzip and deflate (zlib-wrapped or the
    raw stream some servers send) cover what we advertise in
    Accept-Encoding; an undecodable body raises so the retry loop
    records the attempt as a connection-level failure rather than
    handing corrupt bytes to the MIME splitter."""
    import gzip
    import zlib

    enc = (content_encoding or "").strip().lower()
    if enc in ("", "identity"):
        return body
    if enc in ("gzip", "x-gzip"):
        return gzip.decompress(body)
    if enc == "deflate":
        try:
            return zlib.decompress(body)
        except zlib.error:
            return zlib.decompress(body, -zlib.MAX_WBITS)
    raise ValueError(f"unsupported Content-Encoding: {content_encoding}")


def fetch_once(
    url: str, timeout: float = DEFAULT_TIMEOUT_S, max_redirects: int = MAX_REDIRECTS
) -> dict:
    """One real request → the fetch-double outcome dict shape:
    ``{status, retry_after, content_type, body, url}`` (``url`` is the
    post-redirect final URL); connection errors, timeouts, redirect
    loops past the cap, and undecodable bodies map to ``status=-1``
    (the double's thrown marker — the same class of outcome the
    reference's ``fetch()`` rejects with).

    Redirects are followed EXPLICITLY (301/302/303/307/308 with a
    Location header, relative Locations resolved against the current
    URL, capped at ``max_redirects`` like fetch()'s redirect:'follow')
    rather than through urllib's implicit handler, so the cap and the
    hop semantics are ours to test. Bodies are requested with
    ``Accept-Encoding: gzip, deflate`` and decompressed here."""
    import urllib.error
    import urllib.parse
    import urllib.request

    class _NoRedirect(urllib.request.HTTPRedirectHandler):
        def redirect_request(self, req, fp, code, msg, headers, newurl):
            return None  # surface 3xx as HTTPError; the loop below hops

    opener = urllib.request.build_opener(_NoRedirect)
    current = url
    for _hop in range(max_redirects + 1):
        req = urllib.request.Request(
            current,
            headers={
                "User-Agent": "mhtml-to-html-spark",
                "Accept-Encoding": "gzip, deflate",
            },
        )
        try:
            with opener.open(req, timeout=timeout) as resp:
                status, headers = resp.status, resp.headers
                raw = resp.read()
        except urllib.error.HTTPError as e:
            status, headers = e.code, e.headers
            raw = b""
        except Exception:
            return {
                "status": -1, "retry_after": None, "content_type": None,
                "body": b"", "url": current,
            }
        if status in _REDIRECT_CODES:
            location = headers.get("Location") if headers else None
            if not location:
                # a redirect with nowhere to go is a hard failure
                return {
                    "status": status, "retry_after": None, "content_type": None,
                    "body": b"", "url": current,
                }
            current = urllib.parse.urljoin(current, location)
            continue
        if 200 <= status < 300:
            # any 2xx keeps the body — the reference's retry loop tests
            # response.ok (lib/convert.js:176), so 201/203/206-style
            # responses are successes there too (ADVICE r5)
            try:
                body = _decode_body(raw, headers.get("Content-Encoding"))
            except Exception:
                return {
                    "status": -1, "retry_after": None, "content_type": None,
                    "body": b"", "url": current,
                }
            return {
                "status": status,
                "retry_after": headers.get("Retry-After"),
                "content_type": headers.get("Content-Type"),
                "body": body,
                "url": current,
            }
        return {
            "status": status,
            "retry_after": headers.get("Retry-After") if headers else None,
            "content_type": None,
            "body": b"",
            "url": current,
        }
    # redirect chain exceeded the cap — fetch() rejects here too
    return {"status": -1, "retry_after": None, "content_type": None, "body": b"", "url": current}


def fetch_url_with_retries(
    url: str,
    max_retries: int = MAX_RETRIES,
    timeout: float = DEFAULT_TIMEOUT_S,
    sleep=time.sleep,
) -> tuple[str, int, int, str | None, bytes]:
    """The reference retry loop over real requests. Returns
    (final_status 'ok'|'failed', attempts, total_delay_ms,
    content_type, body) — the scripted double's triple plus the real
    payload. ``sleep`` is injectable so tests run on a virtual clock;
    production sleeps for real (the delays ARE the politeness the
    server asked for)."""
    total_delay = 0
    attempt = 0
    while True:
        outcome = fetch_once(url, timeout=timeout)
        status = outcome["status"]
        if 200 <= status < 300:  # response.ok semantics (convert.js:176)
            return "ok", attempt + 1, total_delay, outcome["content_type"], outcome["body"]
        if status != -1 and not is_transient(status):
            return "failed", attempt + 1, total_delay, None, b""
        delay = (
            backoff_delay_ms(attempt) if status == -1 else retry_delay_ms(outcome, attempt)
        )
        if delay is None or attempt >= max_retries:
            return "failed", attempt + 1, total_delay, None, b""
        sleep(delay / 1000.0)
        total_delay += delay
        attempt += 1
