"""Deterministic crawl fixtures: link graph + scripted fetch double.

Everything derives from md5 of the canonical URL, so the oracle and
the Spark executors compute identical worlds with no shared state and
no network — the reference's own tests use exactly this scripted-fetch
technique (/root/reference/test/helpers/fetch.js).
"""

from __future__ import annotations

import hashlib

from ..urlnorm import canonicalize_url

MAX_RETRIES = 2  # reference DEFAULT_MAX_RETRIES (convert.js:109)
RETRY_BASE_DELAY_MS = 500  # convert.js:111
MAX_RETRY_DELAY_MS = 5000  # convert.js:112


def _h(value: str, salt: str = "") -> int:
    return int.from_bytes(hashlib.md5((salt + value).encode("utf-8")).digest()[:8], "big")


def seed_urls(n_hosts: int = 7, per_host: int = 3) -> list[str]:
    """Messy seeds (case, default ports, dot segments) so the seen-set
    keying exercises canonicalization."""
    seeds = []
    for h in range(n_hosts):
        for i in range(per_host):
            variant = (h + i) % 4
            if variant == 0:
                seeds.append(f"https://Host{h}.example.com:443/seed/{i}")
            elif variant == 1:
                seeds.append(f"https://host{h}.example.com/a/../seed/{i}")
            elif variant == 2:
                seeds.append(f"https://host{h}.example.com/seed/%{ord('0') + i:02X}")
            else:
                seeds.append(f"https://host{h}.example.com/seed/{i}")
    return seeds


def host_rank(host: str) -> int:
    """Deterministic host priority (north_rule: (depth, host-rank))."""
    return _h(host, "rank|") % 1000


def host_rank_col(host):
    """JVM replay of :func:`host_rank` (md5 of ``rank|host``, first 8
    bytes big-endian, mod 1000) over a host ``Column``, so rows built
    in the JVM (feeder parents, crawl recrawls) need no Python pass.
    The unsigned-64 value never materializes: split the 16 hex chars
    into two 32-bit halves and fold mod 1000 (2^32 % 1000 == 296) —
    branch-free and safe from any signed-``conv`` ambiguity. Parity
    with the Python kernel is pinned by
    tests/test_streaming.py::test_host_rank_col_parity."""
    from pyspark.sql import functions as F

    hx = F.md5(F.concat(F.lit("rank|"), host))
    hi = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
    return F.pmod(F.pmod(hi, F.lit(1000)) * 296 + F.pmod(lo, F.lit(1000)), F.lit(1000)).cast(
        "int"
    )


def children_of(url: str, fanout: int = 3, n_hosts: int = 7) -> list[str]:
    """Ordered out-links of a fetched page. Mostly same-host (one hot
    host gets extra in-links — the skew the salting handles), depth
    grows through the path."""
    key = canonicalize_url(url)
    depth = key.count("/") - 2
    if depth >= 4:
        return []
    base = _h(key, "children|")
    out = []
    for j in range(fanout):
        hv = (base >> (j * 8)) & 0xFFFF
        if hv % 10 < 6:  # same host
            host = key.split("/")[2]
        elif hv % 10 < 9:  # hot host 0 — skew
            host = f"host0.example.com"
        else:
            host = f"host{hv % n_hosts}.example.com"
        out.append(f"https://{host}/d{depth + 1}/p{(base + j * 7919) % 100000}")
    return out


def robots_body(host: str) -> str:
    """Deterministic robots.txt BODY for a host — the double stands in
    for the network fetch only; the body goes through the real parser
    (frontier/robots.py), so the crawl exercises RFC 9309 parsing
    end-to-end."""
    h = _h(host, "robots|")
    bucket = h % 10
    lines = ["# synthetic robots for " + host, "User-agent: *"]
    if bucket < 2:
        lines.append(f"Disallow: /d{(h >> 4) % 4 + 1}")  # one depth-prefix off-limits
    else:
        lines.append("Disallow:")
    crawl_delay_level = (0, 0, 0, 0, 0, 0, 1, 1, 1, 3)[(h >> 8) % 10]
    if crawl_delay_level:
        lines.append(f"Crawl-delay: {crawl_delay_level}")
    return "\n".join(lines) + "\n"


def robots_rules(host: str) -> dict:
    """Parsed cache row for a host: the deterministic body through
    :func:`..frontier.robots.parse_robots_txt`, reduced to the cache
    schema (one disallow prefix + crawl-delay level). The level scales
    the per-round token budget (token-bucket crawl delay in round
    units): level 0 → full budget, 1 → half, 3 → quarter."""
    from .robots import parse_robots_txt

    parsed = parse_robots_txt(robots_body(host))
    disallow = next((p for allow, p in parsed.rules if not allow), None)
    level = int(parsed.crawl_delay) if parsed.crawl_delay else 0
    return {"disallow": disallow, "crawl_delay_level": level}


def rules_allow(disallow: str | None, key: str) -> bool:
    """Whether a cache row's ``disallow`` prefix lets the crawl fetch
    the canonical ``key``."""
    if disallow is None:
        return True
    path = key.split("/", 3)[-1] if key.count("/") >= 3 else ""
    return not ("/" + path).startswith(disallow)


def robots_allows(host: str, key: str) -> bool:
    return rules_allow(robots_rules(host)["disallow"], key)


def token_budget(base_budget: int, crawl_delay_level: int) -> int:
    """Token-bucket refill per round, scaled by the robots crawl delay."""
    return max(1, base_budget // (1 + crawl_delay_level))


def host_token_budget(host: str, base_budget: int) -> int:
    return token_budget(base_budget, robots_rules(host)["crawl_delay_level"])


def fetch_double(url: str, attempt: int) -> dict:
    """Scripted outcome for (url, attempt): deterministic mix of
    immediate 200s, transient 429/503 (with/without Retry-After),
    permanent 404s, thrown errors, and a poisoned Retry-After > cap."""
    key = canonicalize_url(url)
    h = _h(key, "fetch|")
    bucket = h % 100
    if bucket < 70:
        return {"status": 200}
    if bucket < 78:  # 503 once, then ok
        if attempt == 0:
            return {"status": 503, "retry_after": None}
        return {"status": 200}
    if bucket < 84:  # 429 with Retry-After seconds, ok on 3rd try
        if attempt < 2:
            return {"status": 429, "retry_after": str((h >> 8) % 4 + 1)}
        return {"status": 200}
    if bucket < 89:  # hard 404 — non-transient, fail immediately
        return {"status": 404}
    if bucket < 93:  # always 503 — exhausts retries
        return {"status": 503, "retry_after": None}
    if bucket < 96:  # thrown error once, then ok
        if attempt == 0:
            return {"status": -1}  # -1 = throw
        return {"status": 200}
    # Retry-After beyond the 5000ms cap ⇒ give up immediately
    return {"status": 429, "retry_after": "99"}


def backoff_delay_ms(attempt: int) -> int:
    """500ms * 2^attempt capped at 5000ms (convert.js:226-228)."""
    return min(RETRY_BASE_DELAY_MS * (2**attempt), MAX_RETRY_DELAY_MS)


def parse_retry_after_ms(retry_after: str, now_ms: int | None = None) -> int | None:
    """Reference parseRetryAfter (convert.js:215-224): seconds, else an
    HTTP-date relative to now; unparsable ⇒ None."""
    try:
        return max(0, int(float(retry_after) * 1000))
    except ValueError:
        pass
    from email.utils import parsedate_to_datetime

    try:
        dt = parsedate_to_datetime(retry_after)
    except (TypeError, ValueError):
        return None
    import time as _time

    now = now_ms if now_ms is not None else int(_time.time() * 1000)
    return max(0, int(dt.timestamp() * 1000) - now)


def retry_delay_ms(outcome: dict, attempt: int) -> int | None:
    """Reference getRetryDelay (convert.js:206-213): Retry-After wins;
    unparsable or > cap ⇒ None (give up); else exponential backoff."""
    retry_after = outcome.get("retry_after")
    if retry_after is not None:
        delay = parse_retry_after_ms(retry_after)
        if delay is None or delay > MAX_RETRY_DELAY_MS:
            return None
        return delay
    return backoff_delay_ms(attempt)


def is_transient(status: int) -> bool:
    """429 or 500-599 or thrown (convert.js:202-204)."""
    return status == 429 or (500 <= status <= 599) or status == -1


def fetch_with_retries(url: str, max_retries: int = MAX_RETRIES) -> tuple[str, int, int]:
    """One URL through the reference retry loop (virtual time).
    Returns (final_status 'ok'|'failed', attempts, total_delay_ms)."""
    total_delay = 0
    attempt = 0
    while True:
        outcome = fetch_double(url, attempt)
        status = outcome["status"]
        if status == 200:
            return "ok", attempt + 1, total_delay
        if status != -1 and not is_transient(status):
            return "failed", attempt + 1, total_delay
        delay = (
            backoff_delay_ms(attempt) if status == -1 else retry_delay_ms(outcome, attempt)
        )
        if delay is None or attempt >= max_retries:
            return "failed", attempt + 1, total_delay
        total_delay += delay
        attempt += 1


def resource_fetch_double(url: str) -> dict:
    """Single-shot fetch double for ``--fetch-missing-resources``
    (reference CLI tests stub fetch the same way, test/cli.test.js):
    image-suffixed URLs get a deterministic synthesized image, anything
    else a tiny HTML body. Module-level so Spark workers can unpickle
    it by reference."""
    from ..images.synth import encode_image, synth_image

    key = canonicalize_url(url)
    for suffix in ("png", "bmp", "gif", "jpg", "jpeg"):
        if key.split("?")[0].endswith("." + suffix):
            pixels = synth_image(_h(key, "res|") % 1024, 8, 6)
            return {
                "status": 200,
                "content_type": f"image/{suffix}",
                "body": encode_image(pixels, "bmp"),
            }
    return {
        "status": 200,
        "content_type": "text/html; charset=utf-8",
        "body": b"<html><body>FETCHED</body></html>",
    }
