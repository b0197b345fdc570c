"""Pure-Python/numpy MIME decode kernels (no Spark imports).

Byte-for-byte reimplementation of the decode semantics of the
reference (/root/reference/lib/parse.js, /root/reference/lib/util.js),
re-architected for vectorized batch execution inside pandas UDFs.
"""

from .kernels import (  # noqa: F401
    decode_quoted_printable,
    decode_base64_checked,
    decode_string,
    get_bom_charset,
    get_charset,
    replace_charset,
    get_boundary,
    remove_quotes,
    decode_mime_header,
    is_document,
    is_stylesheet,
    is_text,
    is_image,
    is_plain_text,
    is_media,
    is_multipart,
    is_multipart_alternative,
)
from .splitter import parse_mhtml, ParsedPart, ParseResult  # noqa: F401
