"""GIF codec — pure Python LZW + numpy, no Pillow.

Decodes GIF87a/GIF89a far enough for a crawler's image axis:

- global + local color tables;
- LZW image data (variable code width, clear/EOI codes, the
  deferred-clear quirk where the table is full but no clear arrives);
- row interlacing (the 8/8/4/2 four-pass layout);
- GIF89a graphic-control extensions: per-frame delay, transparency,
  disposal methods 0/1 (leave), 2 (restore background), 3 (restore
  previous) — animated GIFs compose onto a persistent canvas exactly
  like a browser, so every returned frame is a full (h, w, 3) RGB
  array plus its delay;
- plain-text/comment/application extensions are skipped by block
  structure (NETSCAPE loop blocks carry no pixels).

The encoder writes single-table GIF89a (optionally animated,
optionally interlaced) so tests and the synthetic corpus can build
real payloads; decoder tests do not trust it — they use hand-coded
LZW streams and spec vectors.

Reference parity: the reference inlines GIF parts as data URIs and
never parses them as markup (/root/reference: frames "GIF is not
markup" suite); pixel decode exists here because phash near-dup and
media features need pixels.
"""

from __future__ import annotations

import struct

import numpy as np

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _lzw_decode(min_code_size: int, data: bytes, n_pixels: int) -> bytes:
    """GIF-flavoured LZW → index bytes (exactly n_pixels of them).

    The LSB-first bit reader is inlined as plain locals: a per-code
    method call was ~40% of the decode wall
    (~1.8k calls per 64x48 frame), and this loop sits inside the
    image-decode bench units. Same algorithm, same outputs
    (tests/test_image_codecs.py round-trips pin it)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    pos = 0
    bits = 0
    acc = 0
    n_data = len(data)

    table = [bytes([i]) for i in range(clear)] + [b"", b""]
    width = min_code_size + 1
    mask = (1 << width) - 1
    prev: bytes | None = None
    while len(out) < n_pixels:
        while bits < width:
            if pos >= n_data:
                raise ValueError("GIF LZW stream exhausted")
            acc |= data[pos] << bits
            pos += 1
            bits += 8
        code = acc & mask
        acc >>= width
        bits -= width
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            mask = (1 << width) - 1
            prev = None
            continue
        if code == eoi:
            break
        n_table = len(table)
        if code < n_table:
            entry = table[code]
        elif code == n_table and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError(f"bad LZW code {code}")
        out += entry
        if prev is not None and n_table < 4096:
            table.append(prev + entry[:1])
            # widen when the NEXT code would not fit; cap at 12 bits
            # (deferred-clear: at 4096 the width stays 12 until a clear)
            if n_table + 1 == (1 << width) and width < 12:
                width += 1
                mask = (1 << width) - 1
        prev = entry
    if len(out) < n_pixels:
        raise ValueError("GIF frame short of pixels")
    return bytes(out[:n_pixels])


def _lzw_encode(min_code_size: int, indices: bytes) -> bytes:
    """Index bytes → GIF LZW stream (emits a leading clear, resets the
    table when it fills)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out_bits: list[tuple[int, int]] = []

    def reset():
        return {bytes([i]): i for i in range(clear)}, eoi + 1, min_code_size + 1

    table, next_code, width = reset()
    out_bits.append((clear, width))
    buf = b""
    for byte in indices:
        cand = buf + bytes([byte])
        if cand in table:
            buf = cand
            continue
        out_bits.append((table[buf], width))
        table[cand] = next_code
        if next_code == (1 << width) and width < 12:
            width += 1
        next_code += 1
        if next_code > 4096:
            out_bits.append((clear, width))
            table, next_code, width = reset()
        buf = bytes([byte])
    if buf:
        out_bits.append((table[buf], width))
    out_bits.append((eoi, width))

    acc = bits = 0
    packed = bytearray()
    for code, w in out_bits:
        acc |= code << bits
        bits += w
        while bits >= 8:
            packed.append(acc & 0xFF)
            acc >>= 8
            bits -= 8
    if bits:
        packed.append(acc & 0xFF)
    return bytes(packed)


def _sub_blocks(data: bytes, pos: int) -> tuple[bytes, int]:
    """Concatenate the sub-block chain starting at pos → (bytes, new pos)."""
    chunks = []
    while True:
        if pos >= len(data):
            raise ValueError("unterminated GIF sub-block chain")
        size = data[pos]
        pos += 1
        if size == 0:
            return b"".join(chunks), pos
        chunks.append(data[pos : pos + size])
        pos += size


def _deinterlace(rows: np.ndarray) -> np.ndarray:
    h = rows.shape[0]
    out = np.empty_like(rows)
    src = 0
    for start, step in _INTERLACE_PASSES:
        for y in range(start, h, step):
            out[y] = rows[src]
            src += 1
    return out


def decode_gif(data: bytes) -> tuple[list[np.ndarray], list[int]]:
    """GIF bytes → (full-canvas RGB uint8 frames, per-frame delay ms)."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    width, height, flags, bg_index, _ = struct.unpack_from("<HHBBB", data, 6)
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(data, dtype=np.uint8, count=n * 3, offset=pos).reshape(-1, 3)
        pos += n * 3

    canvas = np.zeros((height, width, 3), dtype=np.uint8)
    if gct is not None and bg_index < len(gct):
        canvas[:] = gct[bg_index]
    background = canvas.copy()

    frames: list[np.ndarray] = []
    delays: list[int] = []
    transparent: int | None = None
    disposal = 0
    delay_ms = 0

    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            label = data[pos]
            pos += 1
            body, pos = _sub_blocks(data, pos)
            if label == 0xF9 and len(body) >= 4:  # graphic control
                packed, delay_cs, tidx = struct.unpack_from("<BHB", body, 0)
                disposal = (packed >> 2) & 0x07
                transparent = tidx if packed & 0x01 else None
                delay_ms = delay_cs * 10
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
        # image descriptor
        left, top, fw, fh, iflags = struct.unpack_from("<HHHHB", data, pos)
        pos += 9
        table = gct
        if iflags & 0x80:
            n = 2 << (iflags & 0x07)
            table = np.frombuffer(data, dtype=np.uint8, count=n * 3, offset=pos).reshape(
                -1, 3
            )
            pos += n * 3
        if table is None:
            raise ValueError("GIF frame with no color table")
        min_code = data[pos]
        pos += 1
        stream, pos = _sub_blocks(data, pos)
        indices = np.frombuffer(
            _lzw_decode(min_code, stream, fw * fh), dtype=np.uint8
        ).reshape(fh, fw)
        if iflags & 0x40:
            indices = _deinterlace(indices)
        if indices.max(initial=0) >= len(table):
            raise ValueError("GIF color index out of range")

        previous = canvas.copy()
        region = canvas[top : top + fh, left : left + fw]
        rgb = table[indices]
        if transparent is not None:
            opaque = indices != transparent
            region[opaque] = rgb[opaque]
        else:
            region[:] = rgb
        frames.append(canvas.copy())
        delays.append(delay_ms)

        if disposal == 2:
            canvas[top : top + fh, left : left + fw] = background[
                top : top + fh, left : left + fw
            ]
        elif disposal == 3:
            canvas = previous
        disposal = 0
        transparent = None
        delay_ms = 0

    if not frames:
        raise ValueError("GIF carries no image data")
    return frames, delays


def _quantize_to_palette(frame: np.ndarray, palette: np.ndarray) -> np.ndarray:
    """Nearest-palette-entry indices (exact when the frame was drawn
    from the palette, which is how the encoder is used)."""
    flat = frame.reshape(-1, 3).astype(np.int32)
    dists = ((flat[:, None, :] - palette[None, :, :].astype(np.int32)) ** 2).sum(axis=2)
    return dists.argmin(axis=1).astype(np.uint8).reshape(frame.shape[:2])


def encode_gif(
    frames: list[np.ndarray],
    delays_ms: list[int] | None = None,
    palette: np.ndarray | None = None,
    interlace: bool = False,
) -> bytes:
    """RGB uint8 frames (all full-canvas, same size) → GIF89a bytes.

    With no palette given, builds one from the distinct colors across
    all frames (must be <= 256 — the synthesis path guarantees it).
    """
    if not frames:
        raise ValueError("no frames")
    h, w = frames[0].shape[:2]
    if palette is None:
        colors = np.unique(np.concatenate([f.reshape(-1, 3) for f in frames], axis=0), axis=0)
        if len(colors) > 256:
            raise ValueError("encode_gif needs <= 256 distinct colors (pre-quantize)")
        palette = colors
    size = 2
    while size < len(palette):
        size *= 2
    size = max(size, 2)
    table = np.zeros((size, 3), dtype=np.uint8)
    table[: len(palette)] = palette
    depth = max(1, size.bit_length() - 1)
    min_code = max(2, depth)

    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (depth - 1), 0, 0)
    out += table.tobytes()
    if len(frames) > 1:
        # NETSCAPE2.0 loop-forever block, as real animated GIFs carry
        out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for i, frame in enumerate(frames):
        if frame.shape[:2] != (h, w):
            raise ValueError("frame size mismatch")
        delay_cs = (delays_ms[i] // 10) if delays_ms else 0
        out += b"\x21\xf9\x04" + struct.pack("<BHB", 0, delay_cs, 0) + b"\x00"
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0x40 if interlace else 0)
        idx = _quantize_to_palette(frame, table)
        if interlace:
            order = [y for start, step in _INTERLACE_PASSES for y in range(start, h, step)]
            idx = idx[order]
        out.append(min_code)
        stream = _lzw_encode(min_code, idx.tobytes())
        for off in range(0, len(stream), 255):
            chunk = stream[off : off + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
    out.append(0x3B)
    return bytes(out)
