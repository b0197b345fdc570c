"""Differential gate for the bulk DATA-state fast path.

parse_resource_data (mime/splitter.py) has two implementations of the
same spec: the original line loop (kept for quoted-printable) and a
bulk bytes.find/replace path for everything else. Every test here
parses the same archive with _BULK_DATA on and off and asserts the
ENTIRE ParseResult is identical — part bytes, text, charsets, ids,
anomalies, index selection, and the embedded-recursion offsets that
parse_resource_data's return value feeds (parse.js:338-348).

The adversarial corpus targets exactly the rules where bulk search
could diverge from line-at-a-time scanning: delimiters preceded by
data on the same line, lines whose FIRST boundary occurrence is not a
delimiter but whose second is, transport padding, ``----boundary``
runs, \r\r\n terminators, missing final newline, missing closing
delimiter, declared-boundary recovery, and bodies under every
transfer encoding.
"""

from __future__ import annotations

import dataclasses

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mhtml_to_html_spark.mime import splitter
from mhtml_to_html_spark.mime.splitter import parse_mhtml
from tests.helpers.mhtml_builder import (
    DEFAULT_BOUNDARY,
    concat_bytes,
    encode_base64_body,
    encode_quoted_printable_body,
    mhtml_doc,
    part,
)

B = DEFAULT_BOUNDARY


def _snapshot(result):
    return {
        "headers": result.headers,
        "index": result.index,
        "anomalies": result.anomalies,
        "parts": [dataclasses.asdict(p) for p in result.parts],
    }


def parse_both(data: bytes):
    """Parse with the bulk path and the line loop; return both snapshots."""
    assert splitter._BULK_DATA is True
    bulk = _snapshot(parse_mhtml(data))
    splitter._BULK_DATA = False
    try:
        line = _snapshot(parse_mhtml(data))
    finally:
        splitter._BULK_DATA = True
    return bulk, line


def assert_paths_agree(data: bytes):
    bulk, line = parse_both(data)
    assert bulk == line


GIF = b"GIF89a\x01\x00\x01\x00\x80\x00\x00\x00\x00\x00\xff\xff\xff!\xf9\x04"


CASES = {
    "plain_crlf": mhtml_doc(
        parts=[
            part(content_type="text/html", body="<html><body>hi</body></html>"),
            part(
                content_type="image/gif",
                transfer_encoding="base64",
                location="https://e.com/a.gif",
                body=GIF,
                encode=encode_base64_body,
            ),
        ]
    ),
    "lf_only": mhtml_doc(
        eol="\n",
        parts=[
            part(content_type="text/html", body="<p>x</p>", eol="\n"),
            part(
                content_type="image/gif",
                transfer_encoding="base64",
                body=GIF,
                encode=lambda d: encode_base64_body(d, line_length=8),
                eol="\n",
            ),
        ],
    ),
    "no_closing_delimiter": mhtml_doc(
        closing=False,
        parts=[part(content_type="text/html", body="<p>tail, no closing</p>")],
    ),
    "no_trailing_newline": mhtml_doc(
        closing=False,
        parts=[part(content_type="text/html", body="<p>eof")],
    )[: -2],  # strip the builder's final CRLF: body runs to EOF
    "delimiter_with_data_prefix": concat_bytes(
        f"MIME-Version: 1.0\r\nContent-Type: multipart/related;"
        f' boundary="{B}"\r\n\r\n'
        f"--{B}\r\nContent-Type: text/html\r\n\r\n"
        f"<p>data glued to delimiter</p>--{B}\r\n"
        f"Content-Type: text/plain\r\n\r\nsecond\r\n"
        f"--{B}--\r\n"
    ),
    # first occurrence of the boundary text on the line is NOT preceded
    # by --, so the line matcher rejects the WHOLE line even though a
    # real delimiter follows on the same line
    "first_occurrence_shadows_delimiter": concat_bytes(
        f"MIME-Version: 1.0\r\nContent-Type: multipart/related;"
        f' boundary="{B}"\r\n\r\n'
        f"--{B}\r\nContent-Type: text/html\r\n\r\n"
        f"x{B} then --{B}\r\n"
        f"real body line\r\n"
        f"--{B}--\r\n"
    ),
    # boundary text present but followed by non-padding junk: not a
    # delimiter; the line is data
    "tail_check_rejects": concat_bytes(
        f"MIME-Version: 1.0\r\nContent-Type: multipart/related;"
        f' boundary="{B}"\r\n\r\n'
        f"--{B}\r\nContent-Type: text/html\r\n\r\n"
        f"--{B}not-a-delimiter\r\n"
        f"--{B} \t \r\n"
        f"after padded delimiter\r\n"
        f"--{B}--\r\n"
    ),
    "four_dash_run": concat_bytes(
        f"MIME-Version: 1.0\r\nContent-Type: multipart/related;"
        f' boundary="{B}"\r\n\r\n'
        f"--{B}\r\nContent-Type: text/html\r\n\r\n"
        f"----{B}\r\n"
        f"--{B}--\r\n"
    ),
    "cr_cr_lf_terminators": concat_bytes(
        f"MIME-Version: 1.0\r\nContent-Type: multipart/related;"
        f' boundary="{B}"\r\n\r\n'
        f"--{B}\r\nContent-Type: text/plain\r\n\r\n",
        b"line with \r\r\n stray carriage returns\r\r\n",
        f"--{B}\r\n"
        f"Content-Type: application/octet-stream\r\n"
        f"Content-Transfer-Encoding: base64\r\n\r\n",
        b"QUJD\r\r\n",
        b"REVG\r\n",
        f"--{B}--\r\n",
    ),
    "binary_te_crlf_kept": mhtml_doc(
        parts=[
            part(content_type="text/html", body="<p>i</p>"),
            part(
                content_type="application/octet-stream",
                transfer_encoding="binary",
                location="https://e.com/blob",
                body=b"\x00\x01\r\n\x02\x03\r\n",
            ),
        ]
    ),
    "qp_and_base64_mixed": mhtml_doc(
        parts=[
            part(
                content_type="text/html",
                transfer_encoding="quoted-printable",
                body="<p>café =3D soft\r\nbreaks</p>",
                encode=lambda s: encode_quoted_printable_body(s),
            ),
            part(
                content_type="image/gif",
                transfer_encoding="base64",
                body=GIF * 40,
                encode=encode_base64_body,
            ),
        ]
    ),
    "declared_boundary_unused": concat_bytes(
        "MIME-Version: 1.0\r\n"
        'Content-Type: multipart/related; boundary="never-seen"\r\n\r\n'
        "--actual-boundary\r\n"
        "Content-Type: text/html\r\n\r\n"
        "<p>recovered</p>\r\n"
        "--actual-boundary--\r\n"
    ),
    "missing_delimiters": concat_bytes(
        "MIME-Version: 1.0\r\n"
        "Content-Type: multipart/related\r\n\r\n"
        "Content-Type: text/html\r\n\r\n"
        "<p>flat body, no boundary anywhere</p>\r\n"
    ),
    "empty_part_bodies": concat_bytes(
        f"MIME-Version: 1.0\r\nContent-Type: multipart/related;"
        f' boundary="{B}"\r\n\r\n'
        f"--{B}\r\nContent-Type: text/html\r\n\r\n"
        f"--{B}\r\nContent-Type: text/plain\r\n\r\n\r\n"
        f"--{B}--\r\n"
    ),
    # undecodable base64 parts stay encoded with a base64-left-encoded
    # anomaly; their kept bytes must agree between the two paths
    "base64_undecodable_parts": concat_bytes(
        f"MIME-Version: 1.0\r\nContent-Type: multipart/related;"
        f' boundary="{B}"\r\n\r\n'
        f"--{B}\r\nContent-Type: text/html\r\n"
        f"Content-Transfer-Encoding: base64\r\n\r\n",
        b"PHA+\r\nx*y\r\r\nQUJD\r\n",
        f"--{B}\r\nContent-Type: text/css\r\nContent-Transfer-Encoding: base64\r\n\r\n",
        b"QQ=\r\n",
        f"--{B}\r\nContent-Type: image/gif\r\nContent-Transfer-Encoding: base64\r\n"
        f"Content-Location: https://e.com/a.gif\r\n\r\n",
        b"=QQQ\r\nQUJD\n\rQ===\r\n",
        f"--{B}\r\nContent-Type: image/png\r\nContent-Transfer-Encoding: base64\r\n"
        f"Content-Location: https://e.com/b.png\r\n\r\n",
        b"QUJD\xffREVG\r\n\r\n",
        f"--{B}--\r\n",
    ),
    # decodable edge cases: a lone CR and other whitespace inside the
    # data, a UTF-8 BOM at the start or after a blank line (the part's
    # charset), a document without a Content-ID (left encoded,
    # charset-scanned as text)
    "base64_whitespace_and_bom": concat_bytes(
        f"MIME-Version: 1.0\r\nContent-Type: multipart/related;"
        f' boundary="{B}"\r\n\r\n'
        f"--{B}\r\nContent-Type: text/html\r\n"
        f"Content-Transfer-Encoding: base64\r\n\r\n",
        b"PGh0bWw+PG\r1ldGEg\t Y2hh cnNldD11dGYtOD48L2h0bWw+\r\n",
        f"--{B}\r\nContent-Type: text/html\r\nContent-Transfer-Encoding: base64\r\n"
        f"Content-Location: https://e.com/frame.html\r\n\r\n",
        b"\r\n\xef\xbb\xbfPHA+ZnJhbWU8L3A+\r\n",
        f"--{B}\r\nContent-Type: text/html\r\nContent-Transfer-Encoding: base64\r\n"
        f"Content-Location: https://e.com/frame2.html\r\n\r\n",
        b"PHA+\r\nZnJhbWU8L3A+\r\n",
        f"--{B}\r\nContent-Type: image/gif\r\nContent-Transfer-Encoding: base64\r\n"
        f"Content-Location: https://e.com/c.gif\r\n\r\n",
        b"\xef\xbb\xbfR0lG\r\nODlh\x0cAQAB\r\nAA==\r\n",
        f"--{B}\r\nContent-Type: image/gif\r\nContent-Transfer-Encoding: base64\r\n"
        f"Content-Location: https://e.com/d.gif\r\n\r\n",
        b"\r\n\xef\xbb\xbfR0lGODlh\r\n",
        f"--{B}--\r\n",
    ),
    "boundary_at_eof_no_newline": concat_bytes(
        f"MIME-Version: 1.0\r\nContent-Type: multipart/related;"
        f' boundary="{B}"\r\n\r\n'
        f"--{B}\r\nContent-Type: text/html\r\n\r\n"
        f"<p>x</p>\r\n"
        f"--{B}--"
    ),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_bulk_matches_line_loop(name):
    assert_paths_agree(CASES[name])


def test_embedded_mhtml_offsets_agree():
    """index_end feeds the embedded-archive slice: any off-by-one in the
    bulk path's returned offset changes the nested parse's input."""
    inner = mhtml_doc(
        boundary="inner-bound",
        parts=[
            part(
                content_type="text/html",
                body="<p>nested index</p>",
                boundary="inner-bound",
            )
        ],
    )
    outer = concat_bytes(
        f"MIME-Version: 1.0\r\nContent-Type: multipart/related;"
        f' boundary="{B}"\r\n\r\n'
        f"--{B}\r\n"
        "Content-Type: multipart/alternative\r\n\r\n",
        inner,
        f"\r\n--{B}--\r\n",
    )
    bulk, line = parse_both(outer)
    assert bulk == line
    assert any(p["is_embedded_container"] for p in bulk["parts"])


def test_bench_archives_agree():
    from mhtml_to_html_spark.sources.corpus import build_archive

    for i in range(6):
        assert_paths_agree(build_archive(i, 3, 1))


_line = st.one_of(
    st.sampled_from(
        [
            b"plain data",
            b"",
            b"--" + B.encode(),
            b"--" + B.encode() + b"--",
            b"--" + B.encode() + b"  \t",
            b"--" + B.encode() + b"x",
            b"x--" + B.encode(),
            B.encode(),
            b"----" + B.encode(),
            b"--" + B.encode()[:10],
            b"QUJDREVG",
            b"=3D soft=",
            b"data \r mid-cr",
        ]
    ),
    st.binary(max_size=20).filter(lambda b: b"\n" not in b),
)


@settings(max_examples=120, deadline=None)
@given(
    lines=st.lists(_line, min_size=0, max_size=12),
    eols=st.lists(st.sampled_from([b"\r\n", b"\n", b"\r\r\n"]), min_size=12, max_size=12),
    te=st.sampled_from([None, "base64", "binary", "7bit"]),
    trailing_newline=st.booleans(),
    closing=st.booleans(),
)
def test_fuzz_bulk_matches_line_loop(lines, eols, te, trailing_newline, closing):
    body = b"".join(ln + eol for ln, eol in zip(lines, eols))
    if not trailing_newline:
        body += b"no final newline"
    te_hdr = f"Content-Transfer-Encoding: {te}\r\n" if te else ""
    doc = concat_bytes(
        f"MIME-Version: 1.0\r\nContent-Type: multipart/related;"
        f' boundary="{B}"\r\n\r\n'
        f"--{B}\r\nContent-Type: application/octet-stream\r\n{te_hdr}\r\n",
        body,
        f"\r\n--{B}--\r\n" if closing else b"",
    )
    assert_paths_agree(doc)
