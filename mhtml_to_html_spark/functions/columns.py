"""Column-expression helpers: JVM-side equivalents of the reference's
scalar predicates (/root/reference/lib/util.js:383-461,502-512).

These keep hot-path filters inside whole-stage codegen — the Python
kernels in ``mime/`` exist for the per-archive state machine, but any
predicate over an already-split parts table must never re-enter
Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _ct(col) -> Column:
    return F.lower(F.coalesce(F.col(col) if isinstance(col, str) else col, F.lit("")))


def ct_is_document(col="content_type") -> Column:
    c = _ct(col)
    return c.startswith("text/html") | c.startswith("application/xhtml+xml")


def ct_is_media(col="content_type") -> Column:
    c = _ct(col)
    return (
        c.startswith("image/") | c.startswith("audio/") | c.startswith("video/") | c.startswith("font/")
    )


def charset_of(col="content_type") -> Column:
    """``charset=`` parameter, quote-stripped, lower-cased (util.js:383-388)."""
    raw = F.regexp_extract(F.col(col) if isinstance(col, str) else col, r"(?i)charset=([^;]+)", 1)
    unquoted = F.regexp_replace(F.regexp_replace(raw, '^"(.*)"$', "$1"), "^'(.*)'$", "$1")
    return F.when(raw != "", F.lower(F.trim(unquoted)))


def media_type_of(col="content_type") -> Column:
    """Data-URI-safe media type: whitespace and parameter quotes
    scrubbed per RFC 2397 (util.js:508-512)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.regexp_replace(c, r"\s+", ""), '"', "")


def data_uri(content_type_col="content_type", data_col="data") -> Column:
    """``data:<type>;base64,<payload>`` from binary data — base64 runs
    JVM-side (util.js:502-504)."""
    return F.concat(
        F.lit("data:"),
        F.coalesce(media_type_of(content_type_col), F.lit("")),
        F.lit(";base64,"),
        F.regexp_replace(F.base64(F.col(data_col)), r"[\r\n]", ""),
    )


def url_scheme(col="url") -> Column:
    return F.lower(F.regexp_extract(F.col(col) if isinstance(col, str) else col, r"^([A-Za-z][A-Za-z0-9+.-]*):", 1))


def is_fetchable_col(col="url") -> Column:
    """http/https/urn only (convert.js:810-814)."""
    return url_scheme(col).isin("http", "https", "urn")
