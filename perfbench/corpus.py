"""Stored MHTML corpus for the ``archive_decode`` workload and its
single-process reference.

Every archive holds an HTML index page and four (image, caption) part
pairs: PNG, baseline JPEG, progressive JPEG and GIF, encoded with the
package's own encoders. A fixed share of archives is damaged: cut short,
carrying a corrupt image, or holding nothing presentable (the converter
answers those with an error row). The seed picks host names, image
content and which archives are damaged.

``reference`` replays the job's kernels directly in this process
(``parse_mhtml``, the media decoders, ``phash64``, ``convert_page``) and
returns the rows the Spark job must write, plus the time spent in each
kernel.
"""

from __future__ import annotations

import base64
import hashlib
import random
import re
import struct
import time
import zlib

IMAGE_KINDS = ("png", "jpeg", "jpeg_prog", "gif")
_EXT = {"png": "png", "jpeg": "jpg", "jpeg_prog": "jpg", "gif": "gif"}
_CT = {"png": "image/png", "jpeg": "image/jpeg", "jpeg_prog": "image/jpeg", "gif": "image/gif"}
POOL = 12  # distinct encoded images per kind
IMAGE_W, IMAGE_H = 96, 64
DAMAGE_EVERY = 16  # one archive in this many is damaged
clock = time.thread_time  # kernel CPU time of the calling thread


def _encode_pool(seed: int) -> dict[str, list[bytes]]:
    from mhtml_to_html_spark.images.synth import synth_image
    from mhtml_to_html_spark.media import (
        encode_gif,
        encode_jpeg,
        encode_jpeg_progressive,
        encode_png,
    )

    pool: dict[str, list[bytes]] = {k: [] for k in IMAGE_KINDS}
    for j in range(POOL):
        img = synth_image(seed * 1000 + j, IMAGE_W, IMAGE_H)
        pool["png"].append(encode_png(img))
        pool["jpeg"].append(encode_jpeg(img, quality=85))
        pool["jpeg_prog"].append(encode_jpeg_progressive(img, quality=85))
        pool["gif"].append(encode_gif([img // 64 * 64]))
    return pool


def _tag(kind: str, data: bytes, tag: bytes) -> bytes:
    """The same image with a comment segment carrying ``tag``: every
    image in the corpus has distinct bytes while decode work stays the
    same (decoders skip comments)."""
    if kind == "png":  # tEXt chunk after IHDR
        body = b"tEXt" + b"Comment\x00" + tag
        chunk = struct.pack(">I", len(body) - 4) + body + struct.pack(">I", zlib.crc32(body))
        return data[:33] + chunk + data[33:]
    if kind == "gif":  # comment extension after the global color table
        flags = data[10]
        at = 13 + (3 << ((flags & 7) + 1) if flags & 0x80 else 0)
        return data[:at] + b"\x21\xfe" + bytes([len(tag)]) + tag + b"\x00" + data[at:]
    return data[:2] + b"\xff\xfe" + struct.pack(">H", len(tag) + 2) + tag + data[2:]  # JPEG COM


def _archive(idx: int, host: str, images: list[tuple[str, str, bytes, str]]) -> bytes:
    boundary = f"----=_Bench_{idx:06d}"
    figures = "".join(
        f'<figure><img src="{stem}.{_EXT[kind]}"><figcaption>{cap}</figcaption></figure>'
        for stem, kind, _data, cap in images
    )
    doc = (
        f"<html><head><title>archive {idx}</title></head>"
        f"<body><h1>page {idx}</h1>{figures}</body></html>"
    )
    lines = [
        "From: <Saved by perfbench>",
        f"Subject: archive {idx}",
        "MIME-Version: 1.0",
        f'Content-Type: multipart/related; boundary="{boundary}"; type="text/html"',
        "",
        f"--{boundary}",
        'Content-Type: text/html; charset="utf-8"',
        "Content-Transfer-Encoding: 8bit",
        f"Content-Location: https://{host}/page{idx}.html",
        "",
        doc,
    ]
    for stem, kind, data, cap in images:
        b64 = base64.b64encode(data).decode("ascii")
        lines += [
            f"--{boundary}",
            f"Content-Type: {_CT[kind]}",
            "Content-Transfer-Encoding: base64",
            f"Content-Location: https://{host}/{stem}.{_EXT[kind]}",
            "",
            "\r\n".join(b64[i : i + 76] for i in range(0, len(b64), 76)),
            f"--{boundary}",
            "Content-Type: text/plain; charset=utf-8",
            "Content-Transfer-Encoding: 8bit",
            f"Content-Location: https://{host}/{stem}.txt",
            "",
            cap,
        ]
    lines += [f"--{boundary}--", ""]
    return "\r\n".join(lines).encode("utf-8")


def _rejected(idx: int, host: str) -> bytes:
    """Nothing presentable: the converter must answer with an error row."""
    boundary = f"----=_Bench_{idx:06d}"
    return (
        f'MIME-Version: 1.0\r\nContent-Type: multipart/related; boundary="{boundary}"\r\n\r\n'
        f"--{boundary}\r\nContent-Type: application/octet-stream\r\n"
        f"Content-Transfer-Encoding: base64\r\nContent-Location: https://{host}/blob{idx}.bin\r\n"
        f"\r\nAQIDBAUGBwg=\r\n--{boundary}--\r\n"
    ).encode("ascii")


def build_corpus(seed: int, n_archives: int) -> list[tuple[str, bytes]]:
    """``n_archives`` (archive_id, content) rows; same seed, same bytes."""
    from mhtml_to_html_spark.images.synth import caption_for

    rng = random.Random(seed)
    pool = _encode_pool(seed)
    base = rng.randrange(1, 10**6)
    damaged = rng.sample(range(n_archives), 3 * max(1, n_archives // (3 * DAMAGE_EVERY)))
    third = len(damaged) // 3
    truncated = set(damaged[:third])
    corrupt = set(damaged[third : 2 * third])
    rejected = set(damaged[2 * third :])
    rows = []
    for k in range(n_archives):
        idx = base + k
        host = f"site{rng.randrange(10**4)}.example"
        if k in rejected:
            rows.append((f"arc_{idx:07d}", _rejected(idx, host)))
            continue
        images = []
        for c, kind in enumerate(IMAGE_KINDS):
            gid = idx * len(IMAGE_KINDS) + c
            data = _tag(kind, pool[kind][rng.randrange(POOL)], b"img %d" % gid)
            if k in corrupt and c == 1:
                data = data[:2] + bytes(rng.randrange(256) for _ in range(len(data) - 2))
            images.append((f"img_{gid:08d}", kind, data, caption_for(gid)))
        content = _archive(idx, host, images)
        if k in truncated:
            content = content[: len(content) * 2 // 3]
        rows.append((f"arc_{idx:07d}", content))
    return rows


# --- single-process reference ---------------------------------------------------

_STEM = re.compile(r"^(.*?)(\.[^.]+)?$")
_EXT_RE = re.compile(r"\.([^.]+)$")
_IMAGE_EXTS = ("ppm", "bmp", "raw", "lossy")


def _rgb3(pixels):
    import numpy as np

    c = pixels.shape[2]
    if c >= 3:
        return pixels[..., :3]
    return np.repeat(pixels[..., :1], 3, axis=2)


def _decode(data: bytes):
    """Sniff the format from the magic bytes and decode, like the
    image-extraction stage; bytes with no known magic are read as its
    raw (w, h, RGB) layout. Returns (pixels, fmt)."""
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        from mhtml_to_html_spark.media import decode_png

        return _rgb3(decode_png(data)), "png"
    if data[:6] in (b"GIF87a", b"GIF89a"):
        from mhtml_to_html_spark.media import decode_gif

        return decode_gif(data)[0][0], "gif"
    if data[:2] == b"\xff\xd8":
        from mhtml_to_html_spark.media import decode_jpeg

        return _rgb3(decode_jpeg(data)), "jpeg"
    import numpy as np

    w0, h0 = struct.unpack_from("<HH", data, 0)
    pixels = np.frombuffer(data, dtype=np.uint8, count=w0 * h0 * 3, offset=4)
    return pixels.reshape(h0, w0, 3).copy(), "raw"


def _sniff_kind(data: bytes) -> str:
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if data[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if data[:2] == b"\xff\xd8":
        return "jpeg_prog" if b"\xff\xc2" in data else "jpeg"
    return "other"


def _image_rows(archive_id: str, parts) -> list[tuple]:
    """Pair image parts with their caption parts by location stem, the
    way the extraction stage groups (archive_id, stem)."""
    groups: dict[str, dict] = {}
    for part in parts:
        loc = part.content_location or part.part_id or ""
        base = loc.split("/")[-1]
        stem = _STEM.match(base).group(1)
        m = _EXT_RE.search(base)
        ext = m.group(1).lower() if m else ""
        ct = (part.content_type or "").lower()
        is_image = ct.startswith("image/") or (
            ct.startswith("application/octet-stream") and ext in _IMAGE_EXTS
        )
        is_caption = ct.startswith("text/plain") and ext == "txt"
        if not (is_image or is_caption):
            continue
        g = groups.setdefault(stem, {"data": None, "caption": None})
        if is_image and part.data is not None:
            g["data"] = part.data if g["data"] is None else max(g["data"], part.data)
        if is_caption and part.text is not None:
            g["caption"] = part.text if g["caption"] is None else max(g["caption"], part.text)
    return [(stem, g) for stem, g in groups.items() if g["data"] is not None]


def reference(rows: list[tuple[str, bytes]]) -> dict:
    """Expected per-archive output plus per-kernel timings (seconds)."""
    from mhtml_to_html_spark.images.synth import phash64
    from mhtml_to_html_spark.mime.splitter import parse_mhtml
    from mhtml_to_html_spark.operators.convert import convert_page

    expected: dict[str, tuple] = {}
    t = {"parse_s": 0.0, "parse_bytes": 0, "parses": 0, "convert_s": 0.0, "phash_s": 0.0}
    decode_s = {k: 0.0 for k in IMAGE_KINDS + ("other",)}
    decode_n = {k: 0 for k in IMAGE_KINDS + ("other",)}
    undecodable = 0
    error_rows = 0
    for archive_id, content in rows:
        t0 = clock()
        result = parse_mhtml(content)
        t["parse_s"] += clock() - t0
        t["parse_bytes"] += len(content)
        t["parses"] += 1
        images = []
        for stem, g in _image_rows(archive_id, result.parts):
            data = bytes(g["data"])
            kind = _sniff_kind(data)
            t0 = clock()
            try:
                pixels, fmt = _decode(data)
            except Exception:
                undecodable += 1
                continue
            finally:
                decode_s[kind] += clock() - t0
                decode_n[kind] += 1
            h, w = pixels.shape[:2]
            t0 = clock()
            ph = phash64(pixels)
            t["phash_s"] += clock() - t0
            images.append(
                (stem, hashlib.sha256(data).hexdigest(), w, h, fmt, g["caption"], ph)
            )
        # the page path parses again, as the conversion stage does
        t0 = clock()
        page_parse = parse_mhtml(content)
        t["parse_s"] += clock() - t0
        t["parse_bytes"] += len(content)
        t["parses"] += 1
        t0 = clock()
        try:
            page = convert_page(page_parse)
            page_row = (hashlib.sha256(page.data.encode("utf-8")).hexdigest(), page.title, None)
        except Exception as exc:
            page_row = (None, None, str(exc))
            error_rows += 1
        t["convert_s"] += clock() - t0
        expected[archive_id] = (tuple(sorted(images)), page_row)
    return {
        "expected": expected,
        "timing": t,
        "decode_s": decode_s,
        "decode_n": decode_n,
        "undecodable": undecodable,
        "error_rows": error_rows,
    }
