"""Decode kernels: quoted-printable, checked base64, charsets, RFC 2047.

Semantics mirror the reference implementation:
- quoted-printable: /root/reference/lib/util.js:172-193
- checked base64 (WHATWG forgiving-base64 / atob): /root/reference/lib/util.js:204-216
- charset decode with per-charset cache + UTF-8 fallback: /root/reference/lib/util.js:364-377
- BOM sniff: /root/reference/lib/util.js:395-403
- RFC 2047 encoded words with same-charset merge: /root/reference/lib/util.js:227-300
- content-type predicates: /root/reference/lib/util.js:413-452
- boundary / charset parameter extraction: /root/reference/lib/util.js:383-388,454-461

All functions are pure and allocation-light so they can run inside
Arrow-batched pandas UDFs; none import Spark.
"""

from __future__ import annotations

import binascii
import codecs
import re
from functools import lru_cache

__all__ = [
    "decode_quoted_printable",
    "decode_base64_checked",
    "decode_string",
    "get_bom_charset",
    "get_charset",
    "replace_charset",
    "get_boundary",
    "remove_quotes",
    "decode_mime_header",
    "is_document",
    "is_stylesheet",
    "is_text",
    "is_image",
    "is_plain_text",
    "is_media",
    "is_multipart",
    "is_multipart_alternative",
]

_HEX_DIGITS = frozenset(b"0123456789ABCDEFabcdef")

# translation table used by the vectorized QP scan
_QP_EQUALS = 0x3D


def decode_quoted_printable(data: bytes) -> bytes:
    """Decode ``=XX`` escapes; invalid escapes pass through verbatim.

    Fast path: data with no ``=`` is returned unchanged (the common
    case for QP bodies — most lines carry no escape).
    """
    if _QP_EQUALS not in data:
        return data
    out = bytearray()
    i = 0
    n = len(data)
    while True:
        j = data.find(b"=", i)
        if j == -1:
            out += data[i:]
            break
        out += data[i:j]
        if j + 2 < n and data[j + 1] in _HEX_DIGITS and data[j + 2] in _HEX_DIGITS:
            out.append(int(data[j + 1 : j + 3], 16))
            i = j + 3
        else:
            out.append(_QP_EQUALS)
            i = j + 1
    return bytes(out)


_ASCII_WS = b" \t\n\f\r"


def decode_base64_checked(value: str | bytes) -> bytes | None:
    """WHATWG forgiving-base64 (``atob`` semantics).

    Strips ASCII whitespace; tolerates missing padding; returns ``None``
    (instead of raising) when the value is not valid base64 — the
    caller leaves the part encoded and records a ``base64-left-encoded``
    anomaly, matching the reference's quiet-recovery behavior. A non-ASCII
    character or byte is never valid.
    """
    if isinstance(value, str):
        try:
            raw = value.encode("ascii")
        except UnicodeEncodeError:
            return None
    else:
        raw = value
    raw = raw.translate(None, _ASCII_WS)
    if len(raw) % 4 == 0:
        if raw.endswith(b"=="):
            raw = raw[:-2]
        elif raw.endswith(b"="):
            raw = raw[:-1]
    # WHATWG padding: only the (at most two) trailing '=' removed above,
    # and never a lone sextet; the strict decode then rejects every byte
    # outside the alphabet
    if len(raw) % 4 == 1 or b"=" in raw:
        return None
    pad = (-len(raw)) % 4
    try:
        return binascii.a2b_base64(raw + b"=" * pad if pad else raw, strict_mode=True)
    except binascii.Error:
        return None


# --- charsets ---------------------------------------------------------------

# WHATWG encoding label → Python codec. Subset covering the labels the
# reference's tests exercise plus the common web labels; anything not
# found falls back to UTF-8 (util.js:370-374 never aborts).
_WHATWG_LABELS: dict[str, str] = {
    "utf-8": "utf-8",
    "utf8": "utf-8",
    "unicode-1-1-utf-8": "utf-8",
    "utf-16": "utf-16-le",
    "utf-16le": "utf-16-le",
    "utf-16be": "utf-16-be",
    "ascii": "cp1252",
    "us-ascii": "cp1252",
    "iso-8859-1": "cp1252",
    "latin1": "cp1252",
    "l1": "cp1252",
    "windows-1252": "cp1252",
    "cp1252": "cp1252",
    "iso-8859-2": "iso8859-2",
    "iso-8859-3": "iso8859-3",
    "iso-8859-4": "iso8859-4",
    "iso-8859-5": "iso8859-5",
    "iso-8859-6": "iso8859-6",
    "iso-8859-7": "iso8859-7",
    "iso-8859-8": "iso8859-8",
    "iso-8859-8-i": "iso8859-8",
    "iso-8859-9": "cp1254",
    "iso-8859-10": "iso8859-10",
    "iso-8859-13": "iso8859-13",
    "iso-8859-14": "iso8859-14",
    "iso-8859-15": "iso8859-15",
    "iso-8859-16": "iso8859-16",
    "windows-1253": "cp1253",
    "windows-1255": "cp1255",
    "windows-1256": "cp1256",
    "windows-1257": "cp1257",
    "windows-1258": "cp1258",
    "windows-874": "cp874",
    "tis-620": "cp874",
    "macintosh": "mac-roman",
    "x-mac-cyrillic": "mac-cyrillic",
    "ibm866": "cp866",
    "x-user-defined": "x-user-defined",  # custom table in decode_string
    "koi8-r": "koi8-r",
    "koi8": "koi8-r",
    "koi8-u": "koi8-u",
    "windows-1251": "cp1251",
    "cp1251": "cp1251",
    "x-cp1251": "cp1251",
    "windows-1250": "cp1250",
    "windows-1254": "cp1254",
    "shift_jis": "cp932",  # TextDecoder's shift_jis is windows-31j
    "shift-jis": "cp932",
    "sjis": "cp932",
    "ms_kanji": "cp932",
    "x-sjis": "cp932",
    "euc-jp": "euc_jp",
    "x-euc-jp": "euc_jp",
    "iso-2022-jp": "iso2022_jp",
    "csiso2022jp": "iso2022_jp",
    "gb2312": "gbk",  # TextDecoder maps gb2312 to GBK
    "gbk": "gbk",
    "gb_2312": "gbk",
    "gb_2312-80": "gbk",
    "csgb2312": "gbk",
    "x-gbk": "gbk",
    "gb18030": "gb18030",
    "big5": "big5",
    "big5-hkscs": "big5hkscs",
    "cn-big5": "big5",
    "csbig5": "big5",
    "euc-kr": "cp949",  # TextDecoder's euc-kr is windows-949
    "korean": "cp949",
    "ks_c_5601-1987": "cp949",
    "csksc56011987": "cp949",
}


# Memory bound, measured with tracemalloc on a cache filled to its cap
# with distinct unknown labels under CPython 3.11: 226 B per entry at
# 10-character labels (the key, the LRU node; values are shared codec
# names), plus ~2 B per further character, so ~57 KiB per Python worker
# (~113 KiB at 110 characters).
@lru_cache(maxsize=256)
def _resolve_codec(charset: str | None) -> str:
    """Label → Python codec; unknown labels fall back to UTF-8."""
    if charset is None:
        return "utf-8"
    label = charset.strip().strip("\t\n\f\r ").lower()
    codec = _WHATWG_LABELS.get(label)
    if codec is not None:
        return codec
    try:
        codecs.lookup(label)
        return label
    except LookupError:
        return "utf-8"


def decode_string(data: bytes, charset: str | None = None) -> str:
    """Decode bytes with a WHATWG-labelled charset; never raises.

    Matches TextDecoder semantics: unknown label → UTF-8; malformed
    sequences → U+FFFD; a leading BOM matching the codec is stripped
    (TextDecoder default ``ignoreBOM: false``).
    """
    codec = _resolve_codec(charset)
    if codec == "x-user-defined":
        # WHATWG x-user-defined: ASCII passthrough, 0x80-0xFF → U+F780-F7FF
        # (TextDecoder semantics; latin-1 would diverge from the reference)
        return "".join(
            chr(b) if b < 0x80 else chr(0xF780 + b - 0x80) for b in data
        )
    if codec == "utf-8" and data[:3] == b"\xef\xbb\xbf":
        data = data[3:]
    elif codec == "utf-16-le" and data[:2] == b"\xff\xfe":
        data = data[2:]
    elif codec == "utf-16-be" and data[:2] == b"\xfe\xff":
        data = data[2:]
    return data.decode(codec, errors="replace")


def get_bom_charset(data: bytes) -> str | None:
    """BOM sniff; outranks every declared charset (util.js:395-403)."""
    if data[:2] == b"\xff\xfe":
        return "utf-16le"
    if data[:2] == b"\xfe\xff":
        return "utf-16be"
    if data[:3] == b"\xef\xbb\xbf":
        return "utf-8"
    return None


_CHARSET_RE = re.compile(r"charset=([^;]+)", re.IGNORECASE)


def remove_quotes(value: str) -> str:
    value = re.sub(r'^"(.*)"$', r"\1", value)
    value = re.sub(r"^'(.*)'$", r"\1", value)
    return value.strip()


def get_charset(content_type: str | None) -> str | None:
    if not content_type:
        return None
    m = _CHARSET_RE.search(content_type)
    if m:
        return remove_quotes(m.group(1)).lower()
    return None


def replace_charset(content_type: str, charset: str) -> str:
    return _CHARSET_RE.sub(f"charset={charset}", content_type, count=1)


def get_boundary(content_type: str) -> str | None:
    """``boundary=`` parameter of a Content-Type, quote-stripped."""
    params = content_type.split(";")[1:]
    for param in params:
        param = param.strip()
        if param.startswith("boundary="):
            return remove_quotes(param[len("boundary=") :])
    return None


# --- content-type predicates (case-insensitive startswith family) -----------


def _test(content_type: str | None, prefix: str) -> bool:
    return bool(content_type) and content_type.lower().startswith(prefix)


def is_document(ct: str | None) -> bool:
    return _test(ct, "text/html") or _test(ct, "application/xhtml+xml")


def is_stylesheet(ct: str | None) -> bool:
    return _test(ct, "text/css")


def is_text(ct: str | None) -> bool:
    return _test(ct, "text/")


def is_image(ct: str | None) -> bool:
    return _test(ct, "image/")


def is_plain_text(ct: str | None) -> bool:
    return _test(ct, "text/plain")


def is_media(ct: str | None) -> bool:
    return _test(ct, "image/") or _test(ct, "audio/") or _test(ct, "video/") or _test(ct, "font/")


def is_multipart(ct: str | None) -> bool:
    return _test(ct, "multipart/")


def is_multipart_alternative(ct: str | None) -> bool:
    return _test(ct, "multipart/alternative")


# --- RFC 2047 encoded-word header decoding ----------------------------------

_WORD_START = "=?"
_WORD_END = "?="
_SEP = "?"


def _decode_encoded_word(header: str, start: int):
    """Return (charset, bytes, end) for the word at ``start``, else None.

    Leaves charset decoding to the caller so a multibyte character split
    across two adjacent words can be reassembled first.
    """
    end_charset = header.find(_SEP, start + 2)
    if end_charset == -1:
        return None
    end_encoding = header.find(_SEP, end_charset + 1)
    if end_encoding == -1:
        return None
    end_value = header.find(_WORD_END, end_encoding + 1)
    if end_value == -1:
        return None
    charset = header[start + 2 : end_charset].lower()
    encoding = header[end_charset + 1 : end_encoding].lower()
    value = header[end_encoding + 1 : end_value]
    end = end_value + 2
    if encoding == "q":
        # in encoded words "_" stands for a space
        raw = value.replace("_", " ").encode("utf-8")
        return charset, decode_quoted_printable(raw), end
    if encoding == "b":
        decoded = decode_base64_checked(value)
        # an unusable value is kept as written, as if never encoded
        return charset, (value.encode("utf-8") if decoded is None else decoded), end
    return None


def decode_mime_header(header: str | None) -> str:
    """Decode RFC 2047 encoded words, merging adjacent same-charset words
    before charset decode; malformed words stay verbatim."""
    if not header:
        return ""
    parts: list[str] = []
    index = 0
    pending: tuple[str, list[bytes]] | None = None

    def flush():
        nonlocal pending
        if pending is not None:
            charset, chunks = pending
            parts.append(decode_string(b"".join(chunks), charset))
            pending = None

    n = len(header)
    while index < n:
        start = header.find(_WORD_START, index)
        if start == -1:
            break
        text = header[index:start]
        word = _decode_encoded_word(header, start)
        if word is None:
            flush()
            parts.append(text + _WORD_START)
            index = start + 2
        else:
            charset, raw, end = word
            # linear whitespace separating two adjacent encoded words is ignored
            if text and (pending is None or text.strip()):
                flush()
                parts.append(text)
            if pending is not None and pending[0] != charset:
                flush()
            if pending is None:
                pending = (charset, [])
            pending[1].append(raw)
            index = end
    flush()
    parts.append(header[index:])
    return "".join(parts)
