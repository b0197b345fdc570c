"""MHTML multipart splitter: archive bytes → part records.

A from-scratch Python re-expression of the reference parser's state
machine and recovery semantics (/root/reference/lib/parse.js:68-474):

- 4 states: HEADERS → CONTENT → DATA → END (parse.js:27-30,100-177)
- boundary delimiter recognition incl. transport padding and glued
  delimiters (parse.js:494-512)
- declared-boundary-unused recovery: rewind + adopt the first ``--…``
  line the body actually uses (parse.js:108-137)
- multipart-without-delimiters recovery: the body speaks for itself
  (parse.js:156-165,221-249)
- markup sniffer: a file starting with ``<`` is a mislabeled document
  (parse.js:549-574)
- embedded-MHTML recursion for multipart/alternative parts
  (parse.js:142-154,166-175,338-348)
- per-part transfer decoding: QP soft line breaks, base64 line
  terminators, trailing-CRLF-belongs-to-delimiter (parse.js:298-336)
- charset cascade: BOM > <meta charset> > <meta http-equiv> > header,
  with re-decode on disagreement (parse.js:423-473); stylesheet
  ``@charset`` (parse.js:404-421)
- multi-key first-wins registry + generated ``_N`` ids
  (parse.js:251-296)
- RFC-2047 / raw-byte header recovery (parse.js:198-216)

This module is pure Python (no Spark): it runs once per archive inside
a ``mapInPandas`` batch, so Spark parallelizes across archives while
the per-archive state machine stays data-local.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from .kernels import (
    decode_base64_checked,
    decode_quoted_printable,
    decode_string,
    get_bom_charset,
    get_boundary,
    get_charset,
    is_document,
    is_multipart,
    is_multipart_alternative,
    is_stylesheet,
    is_text,
    replace_charset,
)
from ..urlnorm import normalize_location

# anomaly types (parse.js:49-52, convert.js:113)
MISLABELED_DOCUMENT_ANOMALY = "document-mislabeled-as-archive"
UNUSED_BOUNDARY_ANOMALY = "declared-boundary-unused"
MISSING_DELIMITERS_ANOMALY = "multipart-without-delimiters"
UNDECODABLE_BASE64_ANOMALY = "base64-left-encoded"

# bulk fast path for non-QP resource bodies (parse_resource_data);
# the differential test flips this to pin bulk == line-loop byte-exact
_BULK_DATA = True

_HEADER_NAME_RE = re.compile(r"^[!-9;-~]+:")
_HEADER_CONT_RE = re.compile(r"^[ \t]")
_REPLACEMENT = "�"

# charset-declaration scanners for the cascade (lightweight stand-ins
# for the reference's DOM walk; the rewrite stage owns element removal)
_META_TAG_RE = re.compile(r"<meta\b[^>]*>", re.IGNORECASE | re.DOTALL)
# regions the reference's DOM-based meta scan never sees
# (parse.js:423-460 walks the parsed tree): comments (incl. an
# unclosed trailing one, which a parser swallows to EOF) and
# script/style raw text
_META_SCAN_SKIP_RE = re.compile(
    r"<!--.*?(?:-->|$)"
    r"|<script\b.*?(?:</script\s*>|$)"
    r"|<style\b.*?(?:</style\s*>|$)",
    re.IGNORECASE | re.DOTALL,
)


def _meta_scan_text(text: str) -> str:
    """Document text with the regions a DOM scan would not surface
    stripped, so the regex scan agrees with the reference's
    tree-walking getMetaCharsetElements (parse.js:430,446)."""
    return _META_SCAN_SKIP_RE.sub(" ", text)
_ATTR_RE = re.compile(
    r"([a-zA-Z][-a-zA-Z0-9_:.]*)\s*=\s*(\"([^\"]*)\"|'([^']*)'|([^\s\"'>]+))",
    re.DOTALL,
)
_CSS_CHARSET_RE = re.compile(r'^@charset\s+"([^"]*)"\s*;')


def _meta_attrs(tag: str) -> dict[str, str]:
    return {
        m.group(1).lower(): (m.group(3) if m.group(3) is not None else m.group(4) if m.group(4) is not None else m.group(5))
        for m in _ATTR_RE.finditer(tag)
    }


@dataclass
class ParsedPart:
    """One MIME part (reference resource, lib/mod.d.ts:251-268)."""

    seq: int
    part_id: str  # normalized id (location > cid > generated _N)
    written_id: str | None  # Content-Location as written (if different)
    content_id: str | None
    content_location: str | None
    content_type: str | None  # post charset-relabel, like the reference
    transfer_encoding: str | None  # post-normalization (binary→base64)
    data: bytes  # transfer-decoded payload bytes (byte-exact)
    text: str | None  # charset-decoded text for text-decoded parts
    charset: str | None  # resolved charset (BOM > meta > header)
    is_index: bool
    is_embedded_container: bool = False
    anomalies: list[dict] = field(default_factory=list)

    @property
    def keys(self) -> list[tuple[str, str]]:
        """Registry keys in registration order (cid, normalized, raw) —
        relational first-wins over (seq, key) rebuilds the reference's
        resources map (parse.js:280-293)."""
        out = []
        if self.content_id is not None:
            out.append((self.content_id, "cid"))
        out.append((self.part_id, "location"))
        if self.written_id is not None and self.written_id != self.part_id:
            out.append((self.written_id, "raw"))
        return out


@dataclass
class ParseResult:
    headers: dict[str, str]
    parts: list[ParsedPart]
    index: str | None
    anomalies: list[dict]


def _parse_header_line(line: str, obj: dict, header_key: str | None) -> str | None:
    """`name: value` with folded continuation lines (parse.js:576-585)."""
    idx = line.find(":")
    if idx > -1:
        header_key = line[:idx].strip().lower()
        obj[header_key] = line[idx + 1 :].strip()
    elif header_key is not None and obj.get(header_key) is not None:
        obj[header_key] += line.strip()
    return header_key


def _is_line_feed(line: bytes) -> bool:
    return line in (b"\r\n", b"\n")


def _ends_with_crlf(line: bytes) -> bool:
    if len(line) >= 2:
        return line[-2] == 0x0D and line[-1] == 0x0A
    return len(line) >= 1 and line[-1] == 0x0D


def _ends_with_lf(line: bytes) -> bool:
    return len(line) >= 1 and line[-1] == 0x0A


def _starts_with_markup(data: bytes) -> bool:
    """Document sniff: first non-whitespace byte is ``<`` (BOM skipped;
    after a UTF-16 BOM the NUL half of each char is skipped too)."""
    bom = get_bom_charset(data)
    index = 0
    skip_nul = False
    if bom == "utf-8":
        index = 3
    elif bom is not None:
        index = 2
        skip_nul = True
    for i in range(index, len(data)):
        b = data[i]
        if b == 0x3C:
            return True
        if skip_nul and b == 0x00:
            continue
        if b not in (0x20, 0x09, 0x0D, 0x0A):
            return False
    return False


def _find_boundary_delimiter(line: bytes, boundary: bytes | None) -> int:
    """A delimiter is ``--`` + boundary + optional ``--`` + transport
    padding to EOL; a line merely containing the boundary is not one.
    Returns the boundary's offset in the line, else -1."""
    if not boundary:
        return -1
    idx = line.find(boundary)
    if idx >= 2 and line[idx - 2] == 0x2D and line[idx - 1] == 0x2D:
        i = idx + len(boundary)
        if line[i : i + 2] == b"--":
            i += 2
        while i < len(line) and line[i] in (0x20, 0x09):
            i += 1
        if i >= len(line) or line[i] in (0x0D, 0x0A):
            return idx
    return -1


class _Parser:
    """One parse invocation; recursion shares resources/frames/anomalies
    through the same instance fields (reference ``context``)."""

    def __init__(self):
        self.resources: dict[str, ParsedPart] = {}
        self.frames: dict[str, ParsedPart] = {}
        self.anomalies: list[dict] = []
        self.index: str | None = None
        self.parts: list[ParsedPart] = []
        self.seq = 0

    # -- public ---------------------------------------------------------

    def parse(self, mhtml: bytes) -> dict[str, str]:
        """Parse one (possibly embedded) archive; returns its headers."""
        headers: dict[str, str] = {}
        raw_header_lines: list[bytes] = []
        pos = 0
        n = len(mhtml)
        header_key: str | None = None
        boundary: bytes | None = None
        declared_boundary_unused = False
        transfer_encoding: str | None = None
        state = "HEADERS"
        content: dict[str, str] = {}
        current: ParsedPart | None = None
        current_chunks: list[bytes] = []
        current_len = 0
        embedded_start: int | None = None
        gen_counter = 0

        def get_line(qp: bool = False) -> tuple[bytes, int]:
            nonlocal pos
            start = pos
            lf = mhtml.find(b"\n", start)
            pos = n + 1 if lf == -1 else lf + 1
            line = mhtml[start:pos]
            return (decode_quoted_printable(line) if qp else line), start

        def append(chunk: bytes):
            nonlocal current_len
            if chunk:
                current_chunks.append(chunk)
                current_len += len(chunk)

        def tail_byte(offset_from_end: int) -> int | None:
            off = offset_from_end
            for chunk in reversed(current_chunks):
                if len(chunk) >= off:
                    return chunk[len(chunk) - off]
                off -= len(chunk)
            return None

        def truncate(count: int):
            nonlocal current_len
            current_len -= count
            remaining = count
            while remaining:
                chunk = current_chunks[-1]
                if len(chunk) > remaining:
                    current_chunks[-1] = chunk[: len(chunk) - remaining]
                    remaining = 0
                else:
                    current_chunks.pop()
                    remaining -= len(chunk)

        def init_resource(rd: dict[str, str]):
            nonlocal transfer_encoding, current, current_chunks, current_len
            nonlocal content, header_key, gen_counter
            transfer_encoding = rd.get("content-transfer-encoding")
            if transfer_encoding:
                transfer_encoding = transfer_encoding.lower()
            content_type = rd.get("content-type")
            content_id = rd.get("content-id")
            written = rd.get("content-location")
            rid = written
            if rid is None:
                if content_id is not None:
                    rid = content_id
                else:
                    while True:
                        rid = f"_{gen_counter}"
                        gen_counter += 1
                        if rid not in self.resources:
                            break
            norm = normalize_location(rid)
            part = ParsedPart(
                seq=self.seq,
                part_id=norm,
                written_id=rid if rid != norm else None,
                content_id=content_id,
                content_location=written,
                content_type=content_type,
                transfer_encoding=transfer_encoding,
                data=b"",
                text=None,
                charset=None,
                is_index=False,
            )
            self.seq += 1
            if self.index is None and is_document(content_type):
                self.index = norm
                part.is_index = True
            if content_id is not None:
                self.frames[content_id] = part
                self.resources.setdefault(content_id, part)
            self.resources.setdefault(norm, part)
            if rid != norm:
                self.resources.setdefault(rid, part)
            self.parts.append(part)
            current = part
            current_chunks = []
            current_len = 0
            content = {}
            header_key = None

        def read_body_headers() -> dict[str, str]:
            """Delimiters never turned up: take whatever the body looks
            like — part headers, markup, or the container headers."""
            nonlocal pos, header_key
            start_body = pos
            if _starts_with_markup(mhtml[pos:]):
                return {"content-type": "text/html"}
            body_headers: dict[str, str] = {}
            header_key = None
            idx_before = pos
            line, _ = get_line()
            while line and not _is_line_feed(line):
                value = decode_string(line)
                if _HEADER_NAME_RE.match(value) or (
                    len(body_headers) > 0 and _HEADER_CONT_RE.match(value)
                ):
                    header_key = _parse_header_line(value, body_headers, header_key)
                    idx_before = pos
                    line, _ = get_line()
                else:
                    break
            if body_headers.get("content-type") is None:
                pos = start_body
                return headers
            if not _is_line_feed(line):
                # the line was already part of the body
                pos = idx_before
            return body_headers

        def parse_resource_data() -> int | None:
            """Accumulate body lines until a boundary delimiter; handles
            QP soft breaks, base64 line terminators, delimiter-owned
            CRLF (parse.js:298-336). Returns the data end offset.

            Non-QP parts take a bulk fast path: the next delimiter is
            located with ``bytes.find`` over the archive instead of a
            per-line scan (base64 image bodies are thousands of lines;
            the line loop was ~75% of decode CPU), and a base64 body
            keeps its terminators for :func:`_decode_base64_part`,
            which strips whitespace once. Byte-for-byte
            equivalent to the line loop — every divergence-prone rule
            (first-occurrence-only delimiter test per line, ``--``
            prefix requirement, transport padding, data prefix on the
            delimiter line, EOF offsets) is replicated and pinned by
            the differential test (tests/test_splitter_bulk.py).
            Quoted-printable parts keep the line loop: their boundary
            test runs on DECODED lines and soft breaks couple adjacent
            lines, so bulk search over raw bytes would not be
            equivalent; QP bodies are documents (tens of lines), not
            the hot path."""
            nonlocal pos
            qp = transfer_encoding == "quoted-printable"
            if not qp and _BULK_DATA:
                te = current.transfer_encoding
                start = pos
                fidx = -1
                if boundary:
                    marker = b"--" + boundary
                    search = start
                    while True:
                        cand = mhtml.find(marker, search)
                        if cand == -1:
                            break
                        nl_before = mhtml.rfind(b"\n", start, cand)
                        linestart = start if nl_before == -1 else nl_before + 1
                        # the line matcher tests only the line's FIRST
                        # boundary occurrence; replicate that
                        if mhtml.find(boundary, linestart) != cand + 2:
                            nl = mhtml.find(b"\n", cand)
                            if nl == -1:
                                break
                            search = nl + 1
                            continue
                        i = cand + len(marker)
                        if mhtml[i : i + 2] == b"--":
                            i += 2
                        while i < n and mhtml[i] in (0x20, 0x09):
                            i += 1
                        if i >= n or mhtml[i] in (0x0D, 0x0A):
                            fidx = cand
                            break
                        nl = mhtml.find(b"\n", cand)
                        if nl == -1:
                            break
                        search = nl + 1
                if fidx == -1:
                    chunk = mhtml[start:n]
                    if boundary:
                        index_end = n + 1
                    elif not chunk:
                        index_end = None
                    elif mhtml[n - 1] == 0x0A:
                        index_end = n
                    else:
                        index_end = n + 1
                    pos = n + 1
                else:
                    chunk = mhtml[start:fidx]
                    index_end = fidx
                    nl = mhtml.find(b"\n", fidx)
                    pos = n + 1 if nl == -1 else nl + 1
                # a base64 chunk keeps its line terminators: the part's
                # decode strips all whitespace once (_decode_base64_part)
                append(chunk)
                # trailing line terminator belongs to the delimiter / EOF
                if current_len > 1 and tail_byte(2) == 0x0D and tail_byte(1) == 0x0A:
                    truncate(2)
                elif current_len > 0 and tail_byte(1) == 0x0A:
                    truncate(1)
                return index_end
            line, _ = get_line(qp)
            index_end: int | None = None
            boundary_found = False
            while not boundary_found and line:
                index_end = pos
                idx_boundary = _find_boundary_delimiter(line, boundary)
                if idx_boundary != -1:
                    index_end = index_end - len(line) + idx_boundary - 2
                    line = line[: idx_boundary - 2] if idx_boundary > 2 else b""
                    boundary_found = True
                te = current.transfer_encoding
                if te == "quoted-printable":
                    if current_len > 2 and tail_byte(3) == 0x3D and _ends_with_crlf(line):
                        truncate(3)
                    elif current_len > 1 and tail_byte(2) == 0x3D and _ends_with_lf(line):
                        truncate(2)
                elif te == "base64":
                    if _ends_with_crlf(line):
                        line = line[:-2]
                    elif _ends_with_lf(line):
                        line = line[:-1]
                append(line)
                if not boundary_found:
                    line, _ = get_line(qp)
            # trailing line terminator belongs to the delimiter / EOF
            if current_len > 1 and tail_byte(2) == 0x0D and tail_byte(1) == 0x0A:
                truncate(2)
            elif current_len > 0 and tail_byte(1) == 0x0A:
                truncate(1)
            if not boundary_found and boundary:
                index_end = pos
            return index_end

        def process_resource():
            part = current
            raw = b"".join(current_chunks)
            declared_charset = get_charset(part.content_type)
            # decode gating (parse.js:353-362): only the index document,
            # Content-ID'd documents and stylesheets are base64-decoded
            # here; everything else stays byte-exact for inlining.
            decoded = None
            if part.transfer_encoding == "base64":
                decoded = _decode_base64_part(raw)
                if part.content_type and (
                    part.part_id == self.index
                    or (part.content_id is not None and is_document(part.content_type))
                    or is_stylesheet(part.content_type)
                ):
                    if decoded is not None:
                        part.transfer_encoding = None
                        raw = decoded
                    else:
                        anomaly = {"type": UNDECODABLE_BASE64_ANOMALY, "id": part.part_id}
                        self.anomalies.append(anomaly)
                        part.anomalies.append(anomaly)
                if part.transfer_encoding == "base64" and (
                    decoded is None
                    or not raw.isascii()
                    or (part.content_type and is_document(part.content_type))
                ):
                    # the part stays encoded, and its encoded bytes are
                    # read again: kept as its data (undecodable), sniffed
                    # for a BOM (non-ASCII) or charset-scanned (a
                    # document). Those read them with line ends stripped
                    raw = _strip_line_ends(raw)
            bom_charset = get_bom_charset(raw)
            charset = bom_charset or declared_charset
            part.charset = charset
            if part.transfer_encoding == "binary" and not (
                part.content_type and is_text(part.content_type)
            ):
                # binary → base64 for non-text parts (parse.js:376-378);
                # we keep the payload as bytes (identical content, the
                # base64 string is representation not data)
                part.transfer_encoding = "base64"
                part.data = raw
            elif part.transfer_encoding == "base64":
                # kept encoded in the reference (inlined as data URI);
                # the pipeline wants payload bytes, so decode when valid
                part.data = decoded if decoded is not None else raw
            else:
                part.data = raw
                part.text = decode_string(raw, charset)
            if part.content_type:
                # relabel only when the bytes were transcoded (parse.js:382-388)
                if part.transfer_encoding != "base64":
                    part.content_type = replace_charset(part.content_type, "utf-8")
                if is_stylesheet(part.content_type):
                    _process_stylesheet_charset(part, raw, charset, bom_charset)
                elif is_document(part.content_type):
                    doc_charset = _process_document_charset(part, raw, charset, bom_charset)
                    if part.part_id == self.index:
                        decode_raw_headers(doc_charset)

        def decode_raw_headers(charset: str | None):
            """Headers a non-conforming writer emitted as raw bytes are
            re-decoded once the document charset is known; only repaired
            values are kept (parse.js:201-216)."""
            if charset is None or charset == "utf-8":
                return
            if not any(_REPLACEMENT in v for v in headers.values()):
                return
            decoded_headers: dict[str, str] = {}
            key = None
            for line in raw_header_lines:
                key = _parse_header_line(decode_string(line, charset), decoded_headers, key)
            for name, value in list(headers.items()):
                if _REPLACEMENT in value and decoded_headers.get(name) is not None:
                    headers[name] = decoded_headers[name]

        # -- markup sniff (parse.js:89-96) --------------------------------
        if _starts_with_markup(mhtml):
            self.anomalies.append({"type": MISLABELED_DOCUMENT_ANOMALY})
            headers["content-type"] = "text/html"
            init_resource(headers)
            append(mhtml)
            process_resource()
            return headers

        # -- main state machine (parse.js:100-177) -------------------------
        while state != "END" and (pos < n or state == "DATA"):
            if state == "HEADERS":
                line, _ = get_line()
                if not _is_line_feed(line):
                    raw_header_lines.append(line)
                    header_key = _parse_header_line(decode_string(line), headers, header_key)
                else:
                    if headers.get("content-type"):
                        b = get_boundary(headers["content-type"])
                        boundary = b.encode("utf-8") if b is not None else None
                    if boundary:
                        index_start_body = pos
                        while (
                            _find_boundary_delimiter(line, boundary) == -1 and pos < n - 1
                        ):
                            line, _ = get_line()
                        # declared boundary never used: rewind, adopt the
                        # one the body actually uses (parse.js:116-122)
                        if _find_boundary_delimiter(line, boundary) == -1:
                            pos = index_start_body
                            boundary = None
                            declared_boundary_unused = True
                    if not boundary:
                        previous = pos
                        line, _ = get_line(transfer_encoding == "quoted-printable")
                        if len(line) >= 2 and line[0] == 0x2D and line[1] == 0x2D:
                            boundary = decode_string(line)[2:].rstrip().encode("utf-8")
                            if declared_boundary_unused:
                                self.anomalies.append({"type": UNUSED_BOUNDARY_ANOMALY})
                        else:
                            pos = previous
                    content = {}
                    state = "CONTENT"
            elif state == "CONTENT":
                if boundary:
                    if embedded_start is None:
                        embedded_start = pos
                    line, _ = get_line()
                    if not _is_line_feed(line):
                        header_key = _parse_header_line(decode_string(line), content, header_key)
                    else:
                        init_resource(content)
                        if not current.content_type or not is_multipart_alternative(
                            current.content_type
                        ):
                            embedded_start = None
                        state = "DATA"
                else:
                    # no boundary: the body is everything that is left
                    missing_delimiters = is_multipart(headers.get("content-type"))
                    if missing_delimiters:
                        self.anomalies.append({"type": MISSING_DELIMITERS_ANOMALY})
                    init_resource(read_body_headers() if missing_delimiters else headers)
                    state = "DATA"
            elif state == "DATA":
                index_end = parse_resource_data()
                if embedded_start is not None and index_end is not None:
                    # multipart/alternative part holding a nested archive:
                    # re-parse it into the same registry (parse.js:338-348)
                    current.data = b"".join(current_chunks)
                    current.is_embedded_container = True
                    embedded = mhtml[embedded_start:index_end]
                    if _ends_with_crlf(embedded):
                        index_end -= 2
                    elif _ends_with_lf(embedded):
                        index_end -= 1
                    # fresh index context: the embedded archive's index
                    # (possibly None) REPLACES the outer one unconditionally
                    # (parse.js:171 context.index = convertEmbeddedMhtml(...),
                    # fresh context sharing only resources/frames/anomalies)
                    self.index = None
                    self.parse(mhtml[embedded_start:index_end])
                    embedded_start = None
                else:
                    process_resource()
                state = "END" if pos >= n - 1 else "CONTENT"
        return headers


def _strip_line_ends(data: bytes) -> bytes:
    """A base64 body without its line terminators: every ``\n`` plus a
    ``\r`` right before it (a lone ``\r`` stays), as the line loop strips
    them line by line."""
    return data.replace(b"\r\n", b"\n").replace(b"\n", b"")


def _decode_base64_part(raw: bytes) -> bytes | None:
    """A base64 part's body, line terminators still in, decoded: the
    verdict and bytes of ``decode_base64_checked(decode_string(
    _strip_line_ends(raw)))`` with one whitespace strip and no text
    round trip. Only a non-ASCII body takes the text rules' path: a
    UTF-8 BOM at the start of the stripped body is dropped (as
    ``decode_string`` drops it), any other non-ASCII byte fails."""
    if not raw.isascii():
        raw = _strip_line_ends(raw)
        if raw.startswith(b"\xef\xbb\xbf"):
            raw = raw[3:]
        if not raw.isascii():
            return None
    return decode_base64_checked(raw)


def _process_stylesheet_charset(
    part: ParsedPart, raw: bytes, charset: str | None, bom_charset: str | None
):
    """``@charset`` rule: re-read on disagreement unless a BOM settled
    the question; the rule itself is always removed (parse.js:404-421)."""
    text = part.text if part.text is not None else decode_string(raw, charset)
    m = _CSS_CHARSET_RE.match(text)
    if m:
        css_charset = m.group(1).lower()
        if bom_charset is None and css_charset != "utf-8" and css_charset != charset:
            text = decode_string(raw, css_charset)
            part.charset = css_charset
            m2 = _CSS_CHARSET_RE.match(text)
            text = text[m2.end() :] if m2 else text
        else:
            text = text[m.end() :]
        part.text = text
    else:
        part.text = text


def _scan_meta_charset(text: str) -> str | None:
    """First ``<meta charset=…>`` — the declaration a browser obeys
    (parse.js:430-434); commented-out / raw-text metas don't count
    (the reference scans the parsed tree)."""
    text = _meta_scan_text(text)
    for m in _META_TAG_RE.finditer(text):
        attrs = _meta_attrs(m.group(0))
        charset = attrs.get("charset")
        if charset:
            return charset.lower()
    return None


def _scan_meta_http_equiv_charset(text: str) -> str | None:
    """First ``<meta http-equiv=content-type content=…>`` charset
    (parse.js:445-448); same DOM-visibility rule as the charset scan."""
    text = _meta_scan_text(text)
    for m in _META_TAG_RE.finditer(text):
        attrs = _meta_attrs(m.group(0))
        if attrs.get("http-equiv", "").lower() == "content-type" and attrs.get("content"):
            return get_charset(attrs["content"])
    return None


def _process_document_charset(
    part: ParsedPart, raw: bytes, charset: str | None, bom_charset: str | None
) -> str | None:
    """Charset cascade: BOM > first ``<meta charset>`` > ``<meta
    http-equiv=content-type>`` > header; bytes re-decoded on each
    disagreement (parse.js:423-473). Declaration removal is owned by
    the rewrite stage; this resolves the text."""
    doc_charset = charset
    text = part.text if part.text is not None else decode_string(raw, charset)
    html_charset = _scan_meta_charset(text)
    if html_charset:
        if bom_charset is None and html_charset != "utf-8" and html_charset != charset:
            text = decode_string(raw, html_charset)
            doc_charset = html_charset
    equiv_charset = _scan_meta_http_equiv_charset(text)
    if equiv_charset:
        # measured against doc_charset: a document saying the same thing
        # twice has already been re-read above
        if bom_charset is None and equiv_charset != "utf-8" and equiv_charset != doc_charset:
            text = decode_string(raw, equiv_charset)
            doc_charset = equiv_charset
    part.text = text
    part.charset = doc_charset if doc_charset is not None else part.charset
    return doc_charset


def parse_mhtml(data: bytes | str) -> ParseResult:
    """Parse one MHTML archive into header map + ordered part records.

    The ParseResult is the per-archive unit emitted by the Spark split
    stage; the multi-key registry and index selection are ALSO rebuilt
    relationally downstream (operators/registry.py) so the driver's
    oracle can check both paths agree.
    """
    if isinstance(data, str):
        data = data.encode("utf-8")
    p = _Parser()
    headers = p.parse(data)
    return ParseResult(headers=headers, parts=p.parts, index=p.index, anomalies=p.anomalies)
