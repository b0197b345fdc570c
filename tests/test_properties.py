"""Property-based coverage (hypothesis): the decode kernels and the
splitter must round-trip arbitrary bytes, not just the suite's cases.
The reference has no fuzz layer (SURVEY §5) — this goes beyond it."""

import base64

from hypothesis import given, settings
from hypothesis import strategies as st

from mhtml_to_html_spark.mime import parse_mhtml
from mhtml_to_html_spark.mime.kernels import (
    decode_base64_checked,
    decode_quoted_printable,
    decode_string,
)
from mhtml_to_html_spark.mime.srcset import parse_srcset, serialize_srcset
from mhtml_to_html_spark.urlnorm import canonicalize_url, normalize_location
from tests.helpers.mhtml_builder import encode_quoted_printable_body


@given(st.binary(max_size=2048))
def test_qp_round_trip(data):
    encoded = encode_quoted_printable_body(data).encode("latin-1")
    assert decode_quoted_printable(encoded) == data


@given(st.binary(max_size=2048))
def test_base64_round_trip(data):
    assert decode_base64_checked(base64.b64encode(data).decode()) == data


@given(st.binary(max_size=2048))
def test_base64_unpadded_round_trip(data):
    encoded = base64.b64encode(data).decode().rstrip("=")
    assert decode_base64_checked(encoded) == data


@given(st.binary(max_size=512))
def test_decode_string_never_raises(data):
    for charset in (None, "utf-8", "koi8-r", "x-bogus-charset", "utf-16le"):
        assert isinstance(decode_string(data, charset), str)


@given(st.text(max_size=256))
def test_normalize_location_total(value):
    # never raises, and is idempotent
    once = normalize_location(value)
    assert normalize_location(once) == once


@given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=128))
def test_canonicalize_idempotent(value):
    once = canonicalize_url(value)
    assert canonicalize_url(once) == once


@settings(max_examples=50)
@given(st.binary(max_size=4096))
def test_parser_never_crashes(data):
    # any byte soup parses to a result (recovered or degenerate)
    result = parse_mhtml(data)
    assert isinstance(result.parts, list)
    for part in result.parts:
        assert isinstance(part.data, bytes)


@settings(max_examples=100)
@given(
    st.lists(
        st.tuples(
            st.text(
                alphabet=st.characters(min_codepoint=33, max_codepoint=126, exclude_characters=","),
                min_size=1,
                max_size=20,
            ),
            st.sampled_from(["", " 1x", " 2w", " 100w 50h", " 0.5x"]),
        ),
        min_size=1,
        max_size=5,
    )
)
def test_srcset_round_trip_stable(candidates):
    srcset = ", ".join(url + desc for url, desc in candidates)
    once = serialize_srcset(parse_srcset(srcset))
    twice = serialize_srcset(parse_srcset(once))
    assert once == twice, "serialize∘parse is not a fixpoint"


@settings(max_examples=50)
@given(st.binary(min_size=1, max_size=512))
def test_body_bytes_round_trip_through_archive(body):
    """Any byte sequence placed in an 8bit part comes back byte-exact
    (the invariant the whole transfer-encoding layer protects)."""
    boundary = "----=_PROP"
    # an 8bit body must not contain a line that IS the delimiter; the
    # builder contract uses base64 for arbitrary bytes, like real writers
    encoded = base64.b64encode(body).decode()
    raw = (
        f'MIME-Version: 1.0\r\nContent-Type: multipart/related; boundary="{boundary}"\r\n\r\n'
        f"--{boundary}\r\nContent-Type: application/octet-stream\r\n"
        f"Content-Transfer-Encoding: base64\r\nContent-Location: https://e/x\r\n\r\n"
        f"{encoded}\r\n--{boundary}--\r\n"
    ).encode()
    result = parse_mhtml(raw)
    part = next(p for p in result.parts if p.content_location == "https://e/x")
    assert part.data == body


@given(
    st.lists(st.floats(min_value=0.01, max_value=1.0), min_size=2, max_size=6),
    st.integers(min_value=0, max_value=10**12),
)
def test_hash_split_bounds_partition_every_key(weights, doc_id):
    """split_bounds + the md5-prefix rule always assign exactly one
    split, bounds are strictly increasing 4-hex strings, and the last
    split catches everything at/above the top bound."""
    import hashlib

    from mhtml_to_html_spark.operators.pipeline import split_bounds

    total = sum(weights)
    splits = tuple((f"s{i}", w / total) for i, w in enumerate(weights))
    bounds = split_bounds(splits)
    assert len(bounds) == len(splits) - 1
    hexes = [b for _, b in bounds]
    assert hexes == sorted(hexes)
    assert all(len(h) == 4 and h == h.lower() for h in hexes)
    h4 = hashlib.md5(f"split:{doc_id}".encode()).hexdigest()[:4]
    assigned = next((name for name, b in bounds if h4 < b), splits[-1][0])
    assert assigned in {name for name, _ in splits}
