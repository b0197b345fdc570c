"""Differential gate for the one-strip base64 decode.

``kernels.decode_base64_checked`` decodes with
``binascii.a2b_base64(strict_mode=True)`` after one whitespace strip and
explicit WHATWG padding checks, and the splitter hands it a part's body
with its line terminators still in (``splitter._decode_base64_part``).
Both are pinned here against a copy of the earlier implementation: the
text round trip (``decode_string``), a whitespace ``translate`` and an
alphabet ``translate`` before ``base64.b64decode(validate=True)``, on
bodies the bulk path had already stripped of CR/LF.
"""

from __future__ import annotations

import base64
import binascii

from hypothesis import example, given, settings
from hypothesis import strategies as st

from mhtml_to_html_spark.mime import kernels
from mhtml_to_html_spark.mime.kernels import (
    decode_base64_checked,
    decode_mime_header,
    decode_string,
)
from mhtml_to_html_spark.mime.splitter import _decode_base64_part, _strip_line_ends

_ALPHABET = b"ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/"
_WS = b" \t\n\f\r"


def reference_decode(value: str | bytes) -> bytes | None:
    """The earlier ``decode_base64_checked``, verbatim."""
    if isinstance(value, str):
        try:
            raw = value.encode("ascii")
        except UnicodeEncodeError:
            return None
    else:
        raw = value
    raw = raw.translate(None, _WS)
    if len(raw) % 4 == 0:
        if raw.endswith(b"=="):
            raw = raw[:-2]
        elif raw.endswith(b"="):
            raw = raw[:-1]
    if len(raw) % 4 == 1:
        return None
    if raw.translate(None, _ALPHABET):
        return None
    pad = (-len(raw)) % 4
    try:
        return base64.b64decode(raw + b"=" * pad, validate=True)
    except (binascii.Error, ValueError):
        return None


def reference_part(raw: bytes) -> bytes | None:
    """The earlier splitter path: CR/LF stripped by the bulk path, then
    the text round trip, then the checked decode."""
    return reference_decode(decode_string(_strip_line_ends(raw)))


# base64-shaped bytes with every kind of noise: whitespace of every
# ASCII kind (and \v, which is not WHATWG whitespace), padding anywhere,
# a UTF-8 BOM, non-ASCII and invalid UTF-8 bytes
_piece = st.one_of(
    st.binary(min_size=0, max_size=12).map(lambda b: base64.b64encode(b)),
    st.sampled_from(
        [b"Q", b"QQ", b"QQ=", b"Q===", b"=QQQ", b"=", b"==", b"\r", b"\n", b"\r\n", b"\r\r\n",
         b" ", b"\t", b"\f", b"\v", b"\xef\xbb\xbf", b"\xff", b"\xc3\xa9", b"*", b"-_", b"\x00"]
    ),
    st.binary(max_size=4),
)
_body = st.lists(_piece, max_size=16).map(b"".join)


@settings(max_examples=600, deadline=None)
@given(_body)
@example(b"QQ")
@example(b"QQ=")
@example(b"QQ==")
@example(b"Q===")
@example(b"=QQQ")
@example(b"QUJD\rREVG")
@example(b"\r")
@example(b"\xef\xbb\xbfQUJD\r\n")
@example(b"\r\n\xef\xbb\xbfQUJD")
@example(b"\r\xef\xbb\xbfQUJD")
@example(b"QU\xc3\xa9JD")
@example(b"QUJD\vREVG")
def test_decode_matches_reference_on_bytes_and_parts(raw):
    assert decode_base64_checked(raw) == reference_decode(raw)
    assert _decode_base64_part(raw) == reference_part(raw)
    text = raw.decode("latin-1")
    assert decode_base64_checked(text) == reference_decode(text)


@settings(max_examples=300, deadline=None)
@given(st.lists(st.one_of(_piece.map(lambda b: b.decode("latin-1")), st.text(max_size=3)),
                max_size=8).map("".join))
@example("QQ")
@example("Q===")
@example("=QQQ")
@example("w6k=")
@example("w6k")
def test_rfc2047_b_words_match_reference(value):
    """An encoded word's ``b`` value decodes (or stays verbatim) as the
    earlier decoder had it."""
    header = f"=?utf-8?b?{value}?= tail =?iso-8859-1?B?{value}?="
    got = decode_mime_header(header)
    saved = kernels.decode_base64_checked
    kernels.decode_base64_checked = reference_decode
    try:
        want = decode_mime_header(header)
    finally:
        kernels.decode_base64_checked = saved
    assert got == want
