"""URL normalization / resolution — the join keys of the system.

Semantics per the reference:
- ``normalize_location``: absolute URLs are stored the way a reference
  to them resolves — percent-encode, drop dot segments and default
  ports, lowercase scheme+host; anything not an absolute URL (relative
  location, Content-ID, generated id) is left alone
  (/root/reference/lib/util.js:518-525).
- ``resolve_path``: relative resolution against a base; ``data:``
  passthrough; protocol-relative ``//`` fallback when the base is
  unparsable (/root/reference/lib/util.js:527-547).
- ``canonicalize_url``: the frontier seen-set key — RFC 3986
  normalization + percent-decode of unreserved characters + host
  lowercasing (BASELINE.json north_rule). Stricter than
  ``normalize_location`` (also decodes %41→A etc.) so that trivially
  different spellings of one URL share one seen-set slot.
- fetch eligibility: only http/https/urn are fetched; ``urn:…:payload``
  unwrapped (/root/reference/lib/convert.js:167-171,810-814).

Pure Python, cached, safe inside pandas UDFs.
"""

from __future__ import annotations

import re
from functools import lru_cache
from urllib.parse import quote, unquote_to_bytes, urljoin, urlsplit, urlunsplit

__all__ = [
    "normalize_location",
    "resolve_path",
    "canonicalize_url",
    "url_host",
    "is_fetchable",
    "unwrap_urn",
]

_SPECIAL_PORTS = {"http": "80", "https": "443", "ws": "80", "wss": "443", "ftp": "21"}
_SPECIAL_SCHEMES = frozenset(_SPECIAL_PORTS) | {"file"}
_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")
# RFC 3986 pchar plus the extra code points browsers leave alone in paths
_PATH_SAFE = "/!$&'()*+,;=:@~-._%"
_QUERY_SAFE = "/?!$&'()*+,;=:@~-._%"
_UNRESERVED = frozenset(
    b"ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)
_URN_PAYLOAD_RE = re.compile(r"^urn:[^:]+:(.+)$", re.IGNORECASE)
_FETCHABLE_RE = re.compile(r"^(https?|urn):", re.IGNORECASE)


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4."""
    output: list[str] = []
    for segment in path.split("/"):
        if segment == ".":
            continue
        if segment == "..":
            if output and output[-1] != "":
                output.pop()
                if not output:
                    output = [""]
            continue
        output.append(segment)
    # preserve trailing slash for '.'/'..' final segments
    if path.endswith(("/.", "/..")) and output and output[-1] != "":
        output.append("")
    result = "/".join(output)
    if path.startswith("/") and not result.startswith("/"):
        result = "/" + result
    return result


def _normalize_host(host: str) -> str:
    # WHATWG `new URL().href` (the reference's parser) PRESERVES trailing
    # dots in hosts, so `http://example.com./x` keeps its dot — stripping
    # it would fork part ids / registry keys from the reference.
    host = host.lower()
    if any(ord(c) > 127 for c in host):
        try:
            host = host.encode("idna").decode("ascii")
        except (UnicodeError, UnicodeDecodeError):
            pass
    return host


# Memory bound, measured with tracemalloc on a cache filled to its cap
# with distinct URLs under CPython 3.11: 286 B per entry at 51-character
# URLs (the key, the normalized value and the LRU node), plus 2 B per
# further character, so ~18 MiB per Python worker (~43 MiB at 251
# characters).
@lru_cache(maxsize=65536)
def normalize_location(value: str) -> str:
    """Absolute URL → normalized href; everything else unchanged."""
    if value is None:
        return value
    if not _SCHEME_RE.match(value):
        return value
    try:
        parts = urlsplit(value)
    except ValueError:
        return value
    scheme = parts.scheme.lower()
    if scheme not in _SPECIAL_SCHEMES:
        # opaque schemes (cid:, urn:, data:, about:) pass through with a
        # lowercased scheme, like the WHATWG parser
        if parts.scheme == scheme:
            return value
        return scheme + value[len(parts.scheme) :]
    if not parts.netloc and scheme != "file":
        # http: with no authority is not an absolute URL worth storing
        return value
    host = _normalize_host(parts.hostname or "")
    port = parts.port
    netloc = host
    if parts.username:
        cred = quote(parts.username, safe="%")
        if parts.password:
            cred += ":" + quote(parts.password, safe="%")
        netloc = f"{cred}@{netloc}"
    if port is not None and str(port) != _SPECIAL_PORTS.get(scheme):
        netloc = f"{netloc}:{port}"
    path = _remove_dot_segments(parts.path) if parts.path else ""
    if not path:
        path = "/"
    path = quote(path, safe=_PATH_SAFE)
    query = quote(parts.query, safe=_QUERY_SAFE) if parts.query else parts.query
    frag = quote(parts.fragment, safe=_QUERY_SAFE) if parts.fragment else parts.fragment
    out = urlunsplit((scheme, netloc, path, query, frag))
    # urlunsplit drops the '#' for empty fragments; the reference keeps
    # fragments significant, and '' vs absent are the same here
    return out


def resolve_path(path: str, base: str | None) -> str:
    """Relative resolution; ``data:`` passthrough; ``//`` fallback."""
    if not base or path.startswith("data:"):
        return path
    try:
        resolved = urljoin(base, path)
        return normalize_location(resolved)
    except ValueError:
        if path.startswith("//"):
            m = re.match(r"^[^:]+", base)
            return f"{m.group(0)}:{path}" if m else path
        return path


def _percent_decode_unreserved(component: str) -> str:
    """Decode only %XX escapes of unreserved characters (RFC 3986 §6.2.2.2)
    and uppercase the remaining escapes."""

    def repl(m: re.Match) -> str:
        byte = int(m.group(1), 16)
        if byte in _UNRESERVED:
            return chr(byte)
        return "%" + m.group(1).upper()

    return re.sub(r"%([0-9A-Fa-f]{2})", repl, component)


# Memory bound, measured like normalize_location's: a fill of this
# cache also fills normalize_location's (sharing its keys), and the two
# hold 471 B per entry at 51-character URLs, plus 3 B per further
# character, so ~29 MiB per Python worker together (~67 MiB at 251
# characters), ~12 MiB of it this cache's own.
@lru_cache(maxsize=65536)
def canonicalize_url(url: str) -> str:
    """Frontier seen-set key: RFC 3986 normalization + percent-decode of
    unreserved chars + host lowercasing; fragment dropped (two spellings
    of one fetchable resource must share one slot)."""
    norm = normalize_location(url.strip())
    try:
        parts = urlsplit(norm)
    except ValueError:
        return norm
    path = _percent_decode_unreserved(parts.path)
    query = _percent_decode_unreserved(parts.query)
    # strip again: dropping a fragment can EXPOSE trailing whitespace
    # that the input-side strip could not see ('0 #' -> '0 '), and the
    # canonical key must be a fixed point of this function
    return urlunsplit((parts.scheme, parts.netloc, path, query, "")).strip()


def url_host(url: str) -> str | None:
    """Registrable host for politeness partitioning; None if opaque."""
    try:
        host = urlsplit(url).hostname
    except ValueError:
        return None
    return host.lower() if host else None


def unwrap_urn(url: str) -> str:
    """``urn:<nid>:payload`` → payload (convert.js:167-171)."""
    m = _URN_PAYLOAD_RE.match(url)
    return m.group(1) if m else url


def is_fetchable(url: str | None) -> bool:
    """Only http:/https:/urn: references are fetched (convert.js:810-814)."""
    return bool(url) and bool(_FETCHABLE_RE.match(url))
