"""Deterministic synthetic MHTML corpus (seed=42, no external data).

The reference ships no fixture files — its entire suite builds
archives in memory (/root/reference/test/helpers/mhtml.js). This module
is the engine-side equivalent at corpus scale: every archive embeds
image parts (PPM/BMP/raw/lossy, base64 or binary transfer encoding)
with caption parts, plus charset/QP variation, so the decode path the
bench measures is the one the tests pin.

``image_meta`` is one golden image row (exact BASELINE.json input_hint
schema); archives are built FROM it, so the pixel/caption invariants
are checked end-to-end: archive bytes → split → decode → compare.
"""

from __future__ import annotations

import base64

import numpy as np

from ..images.synth import caption_for, encode_image, phash64, synth_image

_FMTS = ("ppm", "bmp", "raw", "lossy")
_CHARSET_DOCS = (
    ("utf-8", "Привет мир"),
    ("windows-1251", "Привет мир"),
    ("koi8-r", "Архив"),
    (None, "plain ascii page"),
)


def _encode_qp(data: bytes) -> str:
    out = []
    for byte in data:
        if byte == 0x3D or byte > 0x7E:
            out.append(f"={byte:02X}")
        else:
            out.append(chr(byte))
    return "".join(out)


def image_meta(global_img_id: int, dim_scale: int = 1, with_phash: bool = True) -> dict:
    """Golden row for one image (input_hint schema). ``dim_scale``
    multiplies the dimensions (bench corpora use web-realistic sizes;
    the correctness corpus keeps scale 1). ``with_phash=False`` skips
    the phash (archive SYNTHESIS never serializes it — computing it
    there was ~20% of the corpus-build CPU inside the timed decode
    units; the golden table keeps the default)."""
    rng = np.random.default_rng(7_000 + global_img_id)
    w = int(rng.integers(16, 48)) * dim_scale
    h = int(rng.integers(12, 40)) * dim_scale
    fmt = _FMTS[global_img_id % len(_FMTS)]
    pixels = synth_image(global_img_id, w, h)
    data = encode_image(pixels, fmt)
    return {
        "image_id": f"img_{global_img_id:06d}",
        "bytes": data,
        "w": w,
        "h": h,
        "fmt": fmt,
        "caption": caption_for(global_img_id),
        "phash": phash64(pixels) if with_phash else None,
    }


def build_archive(archive_idx: int, images_per_archive: int = 3, dim_scale: int = 1) -> bytes:
    """One archive: an index document + per-image (image part, caption
    part) pairs; eol / charset / transfer-encoding vary by index."""
    boundary = f"----=_Part_{archive_idx:06d}"
    eol = "\r\n" if archive_idx % 3 else "\n"
    charset, doc_word = _CHARSET_DOCS[archive_idx % len(_CHARSET_DOCS)]
    host = f"https://site{archive_idx % 97}.example"
    doc_location = f"{host}/page{archive_idx}.html"

    img_ids = [archive_idx * images_per_archive + k for k in range(images_per_archive)]
    # one image_meta pass per image (no phash — never serialized into
    # the archive) shared by the figure captions AND the caption parts
    # below; caption_for previously re-derived its rng per figure
    metas = {gid: image_meta(gid, dim_scale, with_phash=False) for gid in img_ids}
    figures = "".join(
        f'<figure><img src="img_{gid:06d}.{_FMTS[gid % len(_FMTS)]}">'
        f"<figcaption>{metas[gid]['caption']}</figcaption></figure>"
        for gid in img_ids
    )
    doc_html = (
        f"<html><head><title>{doc_word} {archive_idx}</title>"
        + (f'<meta charset="{charset}">' if charset else "")
        + f"</head><body>{figures}</body></html>"
    )
    codec = {"utf-8": "utf-8", "windows-1251": "cp1251", "koi8-r": "koi8-r", None: "ascii"}[charset]
    doc_bytes = doc_html.encode(codec)
    if archive_idx % 5 == 0 and charset:
        doc_encoding = "quoted-printable"
        doc_body = _encode_qp(doc_bytes)
    else:
        doc_encoding = "8bit"
        doc_body = doc_bytes.decode("latin-1")

    lines = [
        "From: <Saved by mhtml-to-html-spark corpus>",
        f"Subject: corpus archive {archive_idx}",
        "MIME-Version: 1.0",
        f'Content-Type: multipart/related;{eol}\tboundary="{boundary}";{eol}\ttype="text/html"',
        "",
        f"--{boundary}",
        "Content-Type: text/html" + (f'; charset="{charset}"' if archive_idx % 2 and charset else ""),
        f"Content-Transfer-Encoding: {doc_encoding}",
        f"Content-Location: {doc_location}",
        "",
        doc_body,
    ]
    for gid in img_ids:
        meta = metas[gid]
        fmt = meta["fmt"]
        ct = {"ppm": "image/x-portable-pixmap", "bmp": "image/bmp", "raw": "application/octet-stream", "lossy": "image/x-portable-pixmap"}[fmt]
        b64 = base64.b64encode(meta["bytes"]).decode("ascii")
        wrapped = eol.join(b64[i : i + 76] for i in range(0, len(b64), 76))
        lines += [
            f"--{boundary}",
            f"Content-Type: {ct}",
            "Content-Transfer-Encoding: base64",
            f"Content-Location: {host}/img_{gid:06d}.{fmt}",
            "",
            wrapped,
        ]
        lines += [
            f"--{boundary}",
            "Content-Type: text/plain; charset=utf-8",
            "Content-Transfer-Encoding: 8bit",
            f"Content-Location: {host}/img_{gid:06d}.txt",
            "",
            meta["caption"],
        ]
    lines.append(f"--{boundary}--")
    lines.append("")
    return eol.join(lines).encode("latin-1", errors="strict")


# --- Spark sources ------------------------------------------------------------

_ARCHIVES_SCHEMA = "archive_id string, content binary, case_family string, eol string"


def archives_df(spark, n_archives: int, images_per_archive: int = 3, partitions: int | None = None):
    """Synthesize the archive corpus distributed: the driver ships only
    (index, count) and each executor builds its slice — no driver-side
    materialization, scales to any corpus size."""
    n_parts = partitions or spark.sparkContext.defaultParallelism
    # range → mapInPandas keeps generation executor-side and partitioned
    idx = spark.range(0, n_archives, 1, n_parts).withColumnRenamed("id", "i")

    def build(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for i in pdf["i"]:
                i = int(i)
                rows.append(
                    {
                        "archive_id": f"arc_{i:06d}",
                        "content": build_archive(i, images_per_archive),
                        "case_family": "corpus",
                        "eol": "crlf" if i % 3 else "lf",
                    }
                )
            yield pd.DataFrame(rows, columns=["archive_id", "content", "case_family", "eol"])

    return idx.mapInPandas(build, schema=_ARCHIVES_SCHEMA)


def read_archives(spark, path):
    """Scan .mht files on disk: one row per archive, bytes untouched.
    (S1/S2: Spark binaryFile source; globs are native; ``path`` may be
    one path/glob or a list of them — one multi-path scan, no unions.)"""
    df = spark.read.format("binaryFile").load(path)
    return df.selectExpr(
        "path as archive_id", "content", "'file' as case_family", "null as eol"
    )
