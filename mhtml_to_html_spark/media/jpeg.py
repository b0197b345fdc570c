"""JPEG codec (baseline + progressive) — pure Python + numpy, no
Pillow/libjpeg.

Implements ITU-T T.81 DCT with Huffman coding:

- decoder: SOI/APPn/COM/DQT/SOF0/1/2/DHT/DRI/SOS/EOI marker parse,
  generic DHT-built Huffman tables (not assumed to be the Annex K
  defaults), 0xFF00 byte unstuffing, restart-marker resync,
  dequantize + inverse zigzag + orthonormal-basis IDCT,
  nearest-neighbour chroma upsampling for any (h, v) sampling factors
  up to 2x2 (4:4:4, 4:2:2, 4:2:0), JFIF full-range YCbCr -> RGB
  (ITU-T T.871), single-component grayscale. Progressive (SOF2)
  decodes the full T.81 Annex G flow: interleaved/non-interleaved DC
  scans, spectral-selection AC bands, successive approximation
  (first + refinement passes for DC and AC), EOBn run coding, ZRL in
  refinement scans, correction bits, and restart resync inside every
  scan kind;
- encoder: quality-scaled Annex K quantization tables (the libjpeg
  scaling law), Annex K Huffman tables, 4:4:4 or 4:2:0, optional
  restart intervals — used by tests and the synthetic corpus to build
  real payloads. `encode_jpeg_progressive` writes a multi-scan
  successive-approximation script (libjpeg-style) with per-scan
  optimal Huffman tables built by the T.81 Annex K.2 frequency
  procedure. Decoder tests do not trust the encoders: they include a
  hand-assembled DC-only stream with known output, and progressive
  correctness is additionally pinned by a differential gate —
  baseline and progressive encodings of the same pixels carry the
  same quantized coefficients, so their decodes must be bit-equal.

JPEG is lossy, so there is no pixel round-trip; correctness is pinned
by hand vectors, the progressive-vs-baseline equality gate, and PSNR
gates on encode->decode.

Reference parity: the reference carries image parts opaquely (data
URIs); pixel decode exists for the engine's image axis (phash,
caption admission, media features).
"""

from __future__ import annotations

import struct

import numpy as np

# --- shared tables --------------------------------------------------------------

_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int32,
)
_UNZIGZAG = np.argsort(_ZIGZAG)

# ITU-T T.81 Annex K.1 example quantization tables
_Q_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int32,
).reshape(8, 8)
_Q_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int32,
).reshape(8, 8)

# Annex K.3 typical Huffman tables: (bits[1..16], values)
_HUFF_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HUFF_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HUFF_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
        0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
        0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
        0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
        0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_HUFF_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
        0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
        0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
        0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
        0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
        0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)

# orthonormal 8x8 DCT-II basis: dct = A @ x @ A.T, idct = A.T @ X @ A
_A = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _A[_k, _n] = np.cos(np.pi * (2 * _n + 1) * _k / 16.0) * (
            np.sqrt(0.125) if _k == 0 else 0.5
        )


def _scaled_quant(base: np.ndarray, quality: int) -> np.ndarray:
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int32)


# --- Huffman ---------------------------------------------------------------------


def _canonical_codes(bits: list[int], values: list[int]):
    """(bits[1..16], values) → list of (code, length, value) canonically."""
    out = []
    code = 0
    vi = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out.append((code, length, values[vi]))
            code += 1
            vi += 1
        code <<= 1
    return out


# LUT Huffman decode (the libjpeg technique): JPEG codes are at most
# 16 bits, so a 2^16-entry table keyed by the next 16 bits of the
# stream yields (value, code length) in one lookup. Tables are cached
# per (bits, values) signature — in a corpus virtually every BASELINE
# file shares the Annex K tables, so the build cost amortizes to
# zero. Progressive files carry per-file OPTIMAL tables that never
# repeat, so the cache is bounded: unchecked it grew ~1 MB per decoded
# progressive image inside long-lived Spark python workers (128 KB x
# ~8 unique tables/file), tripling the decode bench via allocator
# pressure.
_LUT_CACHE: dict[tuple, tuple[bytes, bytes]] = {}
_LUT_CACHE_MAX = 128


def _huff_lut(bits: list[int], values: list[int]) -> tuple[bytes, bytes]:
    key = (tuple(bits), tuple(values))
    cached = _LUT_CACHE.get(key)
    if cached is not None:
        # true LRU: move the hit to the end so hot Annex K entries
        # survive eviction pressure from per-file progressive tables
        # (ADVICE r5: the old hit path never re-inserted, making
        # eviction FIFO and re-building shared 128KB LUTs)
        del _LUT_CACHE[key]
        _LUT_CACHE[key] = cached
        return cached
    while len(_LUT_CACHE) >= _LUT_CACHE_MAX:
        # evict least-recently-used (dict preserves insertion order and
        # hits re-insert above)
        del _LUT_CACHE[next(iter(_LUT_CACHE))]
    val = np.zeros(1 << 16, dtype=np.uint8)
    length = np.zeros(1 << 16, dtype=np.uint8)  # 0 = invalid prefix
    code = 0
    vi = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            start = code << (16 - ln)
            span = 1 << (16 - ln)
            val[start : start + span] = values[vi]  # C-speed fill
            length[start : start + span] = ln
            code += 1
            vi += 1
        code <<= 1
    out = (val.tobytes(), length.tobytes())
    _LUT_CACHE[key] = out
    return out


def _split_scan(data: bytes, pos: int) -> tuple[list[bytes], int]:
    """Entropy-coded data starting at pos → (restart segments with the
    0xFF00 byte stuffing removed, offset of the terminating marker's
    0xFF); stops at the first real marker."""
    segments = []
    cur = bytearray()
    i = pos
    n = len(data)
    end = n
    while True:
        j = data.find(b"\xff", i)
        if j < 0:
            cur += data[i:]
            break
        cur += data[i:j]
        nxt = data[j + 1] if j + 1 < n else 0xD9
        if nxt == 0x00:
            cur.append(0xFF)
            i = j + 2
        elif 0xD0 <= nxt <= 0xD7:
            segments.append(bytes(cur))
            cur = bytearray()
            i = j + 2
        else:
            end = j  # terminating marker (EOI or next segment)
            break
    segments.append(bytes(cur))
    return segments, end


# --- decoder ---------------------------------------------------------------------


def _bit_windows(seg: bytes) -> list[int]:
    """48-bit big-endian window starting at every byte offset — one
    numpy pass, then O(1) plain-int reads in the hot loop (a 16-bit
    peek or a <=16-bit receive at bit offset p lives entirely inside
    windows[p >> 3])."""
    arr = np.frombuffer(seg + b"\x00" * 8, dtype=np.uint8).astype(np.uint64)
    view = np.lib.stride_tricks.sliding_window_view(arr, 6)[: len(seg) + 3]
    weights = (1 << (np.arange(5, -1, -1, dtype=np.uint64) * 8)).astype(np.uint64)
    return (view * weights).sum(axis=1).tolist()


def decode_jpeg(data: bytes) -> np.ndarray:
    """JPEG bytes → (h, w, 3) RGB uint8 (or (h, w, 1) gray).

    Baseline (SOF0/1) single-scan files take the fast one-pass path;
    progressive (SOF2) files accumulate coefficients across scans."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], tuple[bytes, bytes]] = {}
    frame = None  # (h, w, components[(cid, hs, vs, tq)])
    progressive = False
    restart_interval = 0
    adobe_transform = None
    coef: list[list[list[int]]] | None = None  # per comp: blocks × 64 (zigzag)
    geom = None  # (hmax, vmax, mcus_x, mcus_y, bx_total[], by_total[])
    saw_scan = False
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"bad marker alignment at {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if 0xD0 <= marker <= 0xD7 or marker == 0x01:
            continue  # standalone
        seglen = struct.unpack_from(">H", data, pos)[0]
        body = data[pos + 2 : pos + seglen]
        if len(body) != seglen - 2:
            raise ValueError("truncated JPEG segment")
        pos += seglen
        if marker == 0xEE and body[:5] == b"Adobe" and len(body) >= 12:
            adobe_transform = body[11]  # 0=CMYK/unknown, 1=YCbCr, 2=YCCK
        elif marker == 0xDB:  # DQT
            off = 0
            while off < len(body):
                pq, tq = body[off] >> 4, body[off] & 0x0F
                off += 1
                if pq == 0:
                    tbl = np.frombuffer(body, dtype=np.uint8, count=64, offset=off)
                    off += 64
                else:
                    tbl = np.frombuffer(body, dtype=">u2", count=64, offset=off)
                    off += 128
                qtables[tq] = tbl.astype(np.int32)[_UNZIGZAG].reshape(8, 8)
        elif marker == 0xC4:  # DHT
            off = 0
            while off < len(body):
                tc, th = body[off] >> 4, body[off] & 0x0F
                bits = list(body[off + 1 : off + 17])
                n = sum(bits)
                values = list(body[off + 17 : off + 17 + n])
                if len(bits) < 16 or len(values) < n:
                    raise ValueError("truncated DHT segment")
                htables[(tc, th)] = _huff_lut(bits, values)
                off += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            _prec, h, w, ncomp = struct.unpack_from(">BHHB", body, 0)
            comps = []
            for i in range(ncomp):
                cid, hv, tq = struct.unpack_from("BBB", body, 6 + 3 * i)
                comps.append((cid, hv >> 4, hv & 0x0F, tq))
            frame = (h, w, comps)
            if marker == 0xC2:
                progressive = True
                geom, coef = _init_coef_store(frame)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(f"unsupported JPEG coding (SOF marker 0xFF{marker:02X})")
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            scan_ids = []
            scan_tables = {}
            for i in range(ns):
                cs, tt = body[1 + 2 * i], body[2 + 2 * i]
                scan_ids.append(cs)
                scan_tables[cs] = (tt >> 4, tt & 0x0F)
            if not progressive and coef is None and len(scan_tables) == len(frame[2]):
                # the 99% case: one interleaved scan covering every
                # component — the single-pass fast path
                return _decode_scan(
                    data,
                    pos,
                    frame,
                    scan_tables,
                    qtables,
                    htables,
                    restart_interval,
                    adobe_transform,
                )
            saw_scan = True
            if progressive:
                ss, se, a = body[1 + 2 * ns], body[2 + 2 * ns], body[3 + 2 * ns]
                pos = _scan_progressive(
                    data,
                    pos,
                    frame,
                    geom,
                    scan_ids,
                    scan_tables,
                    ss,
                    se,
                    a >> 4,
                    a & 0x0F,
                    htables,
                    restart_interval,
                    coef,
                )
            else:
                # multi-scan SEQUENTIAL: each scan baseline-codes a
                # component subset (T.81 A.2) into the shared store
                if coef is None:
                    geom, coef = _init_coef_store(frame)
                pos = _scan_sequential(
                    data,
                    pos,
                    frame,
                    geom,
                    scan_ids,
                    scan_tables,
                    htables,
                    restart_interval,
                    coef,
                )
    if saw_scan and coef is not None:
        return _assemble_progressive(frame, geom, coef, qtables, adobe_transform)
    raise ValueError("JPEG carries no scan")


def _idct_blocks(coefs: np.ndarray, qtable: np.ndarray) -> np.ndarray:
    """(n, 8, 8) quantized coefficients → level-shifted pixel blocks:
    dequantize, then one batched ``A.T @ X @ A`` (two matmuls over the
    stack; einsum runs this contraction as a naive loop, 2.2 ms against
    33 µs for 96 blocks).
    Baseline and progressive decodes both call this one expression, so
    the same coefficients give bit-equal pixels on either path."""
    return _A.T @ (coefs * qtable[None, :, :]) @ _A + 128.0


def _decode_scan(
    data, pos, frame, scan_tables, qtables, htables, restart_interval, adobe_transform=None
):
    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if hmax > 2 or vmax > 2:
        raise ValueError("sampling factors above 2x2 unsupported")
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))

    segments, _end = _split_scan(data, pos)
    n_comp = len(comps)
    # per-component decode products: zigzag coefficient rows + block origins
    zz_rows: list[list[list[int]]] = [[] for _ in comps]
    origins: list[list[tuple[int, int]]] = [[] for _ in comps]
    luts = [
        (htables[(0, scan_tables[cid][0])], htables[(1, scan_tables[cid][1])])
        for cid, _hs, _vs, _tq in comps
    ]

    # hot loop: locals only, precomputed bit windows
    seg_idx = 0
    w48 = _bit_windows(segments[0])
    nbits = len(segments[0]) * 8
    bitpos = 0
    preds = [0] * n_comp
    mcu_in_seg = 0

    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_in_seg == restart_interval:
                if bitpos > nbits:
                    raise ValueError("JPEG restart segment overran")
                seg_idx += 1
                if seg_idx >= len(segments):
                    raise ValueError("missing JPEG restart segment")
                w48 = _bit_windows(segments[seg_idx])
                nbits = len(segments[seg_idx]) * 8
                bitpos = 0
                preds = [0] * n_comp
                mcu_in_seg = 0
            mcu_in_seg += 1
            for ci in range(n_comp):
                (dc_val, dc_len), (ac_val, ac_len) = luts[ci]
                _cid, hs, vs, _tq = comps[ci]
                for by in range(vs):
                    for bx in range(hs):
                        zz = [0] * 64
                        v16 = (w48[bitpos >> 3] >> (32 - (bitpos & 7))) & 0xFFFF
                        ln = dc_len[v16]
                        if ln == 0:
                            raise ValueError("invalid JPEG Huffman code")
                        size = dc_val[v16]
                        bitpos += ln
                        if size:
                            mag = (
                                w48[bitpos >> 3] >> (48 - (bitpos & 7) - size)
                            ) & ((1 << size) - 1)
                            bitpos += size
                            preds[ci] += (
                                mag if mag >= (1 << (size - 1)) else mag - (1 << size) + 1
                            )
                        zz[0] = preds[ci]
                        k = 1
                        while k < 64:
                            v16 = (w48[bitpos >> 3] >> (32 - (bitpos & 7))) & 0xFFFF
                            ln = ac_len[v16]
                            if ln == 0:
                                raise ValueError("invalid JPEG Huffman code")
                            rs = ac_val[v16]
                            bitpos += ln
                            size = rs & 0x0F
                            if size == 0:
                                if rs == 0xF0:  # ZRL
                                    k += 16
                                    continue
                                break  # EOB
                            k += rs >> 4
                            if k > 63:
                                raise ValueError("AC run past block end")
                            mag = (
                                w48[bitpos >> 3] >> (48 - (bitpos & 7) - size)
                            ) & ((1 << size) - 1)
                            bitpos += size
                            zz[k] = (
                                mag if mag >= (1 << (size - 1)) else mag - (1 << size) + 1
                            )
                            k += 1
                        zz_rows[ci].append(zz)
                        origins[ci].append(((my * vs + by) * 8, (mx * hs + bx) * 8))
    if bitpos > nbits:
        raise ValueError("JPEG scan truncated")

    # batched dequantize + IDCT per component
    planes = []
    for ci, (cid, hs, vs, tq) in enumerate(comps):
        plane = np.zeros((mcus_y * vs * 8, mcus_x * hs * 8), dtype=np.float64)
        coefs = np.asarray(zz_rows[ci], dtype=np.int64)[:, _UNZIGZAG].reshape(-1, 8, 8)
        blocks = _idct_blocks(coefs, qtables[tq])
        for (y0, x0), block in zip(origins[ci], blocks):
            plane[y0 : y0 + 8, x0 : x0 + 8] = block
        planes.append(plane)

    # upsample to full resolution and crop
    full = []
    for (cid, hs, vs, tq), plane in zip(comps, planes):
        up = np.repeat(np.repeat(plane, vmax // vs, axis=0), hmax // hs, axis=1)
        full.append(up[:h, :w])
    out = np.stack(full, axis=-1)
    out = np.clip(np.rint(out), 0, 255).astype(np.uint8)
    return _finish_planes(out, adobe_transform)


def _init_coef_store(frame):
    """Frame geometry + an all-zero per-component zigzag coefficient
    store (blocks x 64) for multi-scan decoding (progressive, or
    sequential with per-component scans)."""
    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if hmax > 2 or vmax > 2:
        raise ValueError("sampling factors above 2x2 unsupported")
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    bx_total = [mcus_x * c[1] for c in comps]
    by_total = [mcus_y * c[2] for c in comps]
    geom = (hmax, vmax, mcus_x, mcus_y, bx_total, by_total)
    coef = [
        [[0] * 64 for _ in range(bx_total[ci] * by_total[ci])]
        for ci in range(len(comps))
    ]
    return geom, coef


def _scan_sequential(
    data, pos, frame, geom, scan_ids, scan_tables, htables, restart_interval, coef
):
    """Decode one SEQUENTIAL scan — full baseline coding (DC diff +
    AC run-length, EOB/ZRL) of every block — into the coefficient
    store. Covers the multi-scan sequential layout where each scan
    carries a component subset, interleaved (ns > 1, frame MCU grid)
    or non-interleaved (the component's own block raster)."""
    h, w, comps = frame
    hmax, vmax, mcus_x, mcus_y, bx_total, by_total = geom
    segments, end = _split_scan(data, pos)
    idxs = [next(i for i, c in enumerate(comps) if c[0] == cid) for cid in scan_ids]
    luts = {
        ci: (
            htables[(0, scan_tables[comps[ci][0]][0])],
            htables[(1, scan_tables[comps[ci][0]][1])],
        )
        for ci in idxs
    }

    if len(idxs) > 1:
        total_units = mcus_x * mcus_y

        def unit_blocks(mcu_idx):
            my, mx = divmod(mcu_idx, mcus_x)
            return [
                (
                    ci,
                    (my * comps[ci][2] + by) * bx_total[ci]
                    + (mx * comps[ci][1] + bx),
                )
                for ci in idxs
                for by in range(comps[ci][2])
                for bx in range(comps[ci][1])
            ]

    else:
        ci0 = idxs[0]
        hs0, vs0 = comps[ci0][1], comps[ci0][2]
        bw0 = -(-(-(-w * hs0 // hmax)) // 8)
        bh0 = -(-(-(-h * vs0 // vmax)) // 8)
        total_units = bw0 * bh0
        bxt0 = bx_total[ci0]

        def unit_blocks(mcu_idx):
            by, bx = divmod(mcu_idx, bw0)
            return [(ci0, by * bxt0 + bx)]

    seg_idx = 0
    w48 = _bit_windows(segments[0])
    nbits = len(segments[0]) * 8
    bitpos = 0
    preds = {ci: 0 for ci in idxs}
    mcu_in_seg = 0

    for mcu_idx in range(total_units):
        if restart_interval and mcu_in_seg == restart_interval:
            if bitpos > nbits:
                raise ValueError("JPEG restart segment overran")
            seg_idx += 1
            if seg_idx >= len(segments):
                raise ValueError("missing JPEG restart segment")
            w48 = _bit_windows(segments[seg_idx])
            nbits = len(segments[seg_idx]) * 8
            bitpos = 0
            preds = {ci: 0 for ci in idxs}
            mcu_in_seg = 0
        mcu_in_seg += 1
        for ci, bi in unit_blocks(mcu_idx):
            (dc_val, dc_len), (ac_val, ac_len) = luts[ci]
            blk = coef[ci][bi]
            v16 = (w48[bitpos >> 3] >> (32 - (bitpos & 7))) & 0xFFFF
            ln = dc_len[v16]
            if ln == 0:
                raise ValueError("invalid JPEG Huffman code")
            size = dc_val[v16]
            bitpos += ln
            if size:
                mag = (w48[bitpos >> 3] >> (48 - (bitpos & 7) - size)) & (
                    (1 << size) - 1
                )
                bitpos += size
                preds[ci] += (
                    mag if mag >= (1 << (size - 1)) else mag - (1 << size) + 1
                )
            blk[0] = preds[ci]
            k = 1
            while k < 64:
                v16 = (w48[bitpos >> 3] >> (32 - (bitpos & 7))) & 0xFFFF
                ln = ac_len[v16]
                if ln == 0:
                    raise ValueError("invalid JPEG Huffman code")
                rs = ac_val[v16]
                bitpos += ln
                s = rs & 0x0F
                if s == 0:
                    if rs == 0xF0:  # ZRL
                        k += 16
                        continue
                    break  # EOB
                k += rs >> 4
                if k > 63:
                    raise ValueError("AC run past block end")
                mag = (w48[bitpos >> 3] >> (48 - (bitpos & 7) - s)) & ((1 << s) - 1)
                bitpos += s
                blk[k] = mag if mag >= (1 << (s - 1)) else mag - (1 << s) + 1
                k += 1

    if bitpos > nbits:
        raise ValueError("JPEG scan truncated")
    return end


def _scan_progressive(
    data,
    pos,
    frame,
    geom,
    scan_ids,
    scan_tables,
    ss,
    se,
    ah,
    al,
    htables,
    restart_interval,
    coef,
):
    """Decode one progressive scan (T.81 Annex G) into the per-component
    zigzag coefficient store; returns the offset of the terminating
    marker. Handles all four scan kinds: DC first/refine (interleaved
    or single-component) and AC first/refine (single-component bands
    with EOBn run coding and correction bits)."""
    h, w, comps = frame
    hmax, vmax, mcus_x, mcus_y, bx_total, by_total = geom
    segments, end = _split_scan(data, pos)
    idxs = [next(i for i, c in enumerate(comps) if c[0] == cid) for cid in scan_ids]
    if ss == 0 and se != 0:
        raise ValueError("progressive scan mixes DC and AC bands")
    if ss != 0 and len(idxs) != 1:
        raise ValueError("progressive AC scan must be single-component")
    if se > 63 or ss > se:
        raise ValueError("bad spectral selection")

    # Hot loops below keep everything in locals and inline every bit
    # read (the closure-per-bit first version cost ~2.5x on the
    # all-progressive decode bench). Iteration plan: restart units
    # ("MCUs"). Interleaved DC scans use the frame MCU grid (dummy
    # blocks of subsampled components included); single-component
    # scans walk the component's own block raster (T.81 A.2.2).
    seg_idx = 0
    w48 = _bit_windows(segments[0])
    nbits = len(segments[0]) * 8
    bitpos = 0
    eobrun = 0
    mcu_in_seg = 0
    p1 = 1 << al
    m1 = -1 << al

    if ss == 0:  # DC scan (interleaved or single-component)
        dc_luts = {ci: htables[(0, scan_tables[comps[ci][0]][0])] for ci in idxs}
        if len(idxs) > 1:
            total_units = mcus_x * mcus_y

            def unit_blocks(mcu_idx):
                my, mx = divmod(mcu_idx, mcus_x)
                return [
                    (
                        ci,
                        (my * comps[ci][2] + by) * bx_total[ci]
                        + (mx * comps[ci][1] + bx),
                    )
                    for ci in idxs
                    for by in range(comps[ci][2])
                    for bx in range(comps[ci][1])
                ]

        else:
            ci0 = idxs[0]
            hs0, vs0 = comps[ci0][1], comps[ci0][2]
            bw0 = -(-(-(-w * hs0 // hmax)) // 8)
            bh0 = -(-(-(-h * vs0 // vmax)) // 8)
            total_units = bw0 * bh0
            bxt0 = bx_total[ci0]

            def unit_blocks(mcu_idx):
                by, bx = divmod(mcu_idx, bw0)
                return [(ci0, by * bxt0 + bx)]

        preds = {ci: 0 for ci in idxs}
        for mcu_idx in range(total_units):
            if restart_interval and mcu_in_seg == restart_interval:
                if bitpos > nbits:
                    raise ValueError("JPEG restart segment overran")
                seg_idx += 1
                if seg_idx >= len(segments):
                    raise ValueError("missing JPEG restart segment")
                w48 = _bit_windows(segments[seg_idx])
                nbits = len(segments[seg_idx]) * 8
                bitpos = 0
                preds = {ci: 0 for ci in idxs}
                mcu_in_seg = 0
            mcu_in_seg += 1
            if ah == 0:  # DC first
                for ci, bi in unit_blocks(mcu_idx):
                    dc_val, dc_len = dc_luts[ci]
                    v16 = (w48[bitpos >> 3] >> (32 - (bitpos & 7))) & 0xFFFF
                    ln = dc_len[v16]
                    if ln == 0:
                        raise ValueError("invalid JPEG Huffman code")
                    size = dc_val[v16]
                    bitpos += ln
                    if size:
                        mag = (
                            w48[bitpos >> 3] >> (48 - (bitpos & 7) - size)
                        ) & ((1 << size) - 1)
                        bitpos += size
                        preds[ci] += (
                            mag if mag >= (1 << (size - 1)) else mag - (1 << size) + 1
                        )
                    coef[ci][bi][0] = preds[ci] << al
            else:  # DC refine: one appended bit per block
                for ci, bi in unit_blocks(mcu_idx):
                    bit = (w48[bitpos >> 3] >> (47 - (bitpos & 7))) & 1
                    bitpos += 1
                    if bit:
                        coef[ci][bi][0] |= p1
    else:  # AC scan: single component, its own block raster
        ci0 = idxs[0]
        hs0, vs0 = comps[ci0][1], comps[ci0][2]
        bw0 = -(-(-(-w * hs0 // hmax)) // 8)
        bh0 = -(-(-(-h * vs0 // vmax)) // 8)
        bxt0 = bx_total[ci0]
        coef_c = coef[ci0]
        ac_val, ac_len = htables[(1, scan_tables[comps[ci0][0]][1])]
        for by in range(bh0):
            row_base = by * bxt0
            for bx in range(bw0):
                if restart_interval and mcu_in_seg == restart_interval:
                    if bitpos > nbits:
                        raise ValueError("JPEG restart segment overran")
                    seg_idx += 1
                    if seg_idx >= len(segments):
                        raise ValueError("missing JPEG restart segment")
                    w48 = _bit_windows(segments[seg_idx])
                    nbits = len(segments[seg_idx]) * 8
                    bitpos = 0
                    eobrun = 0
                    mcu_in_seg = 0
                mcu_in_seg += 1
                if ah == 0:  # AC first (EOBn runs, ZRL, values << Al)
                    if eobrun > 0:
                        eobrun -= 1
                        continue
                    blk = coef_c[row_base + bx]
                    k = ss
                    while k <= se:
                        v16 = (w48[bitpos >> 3] >> (32 - (bitpos & 7))) & 0xFFFF
                        ln = ac_len[v16]
                        if ln == 0:
                            raise ValueError("invalid JPEG Huffman code")
                        rs = ac_val[v16]
                        bitpos += ln
                        s = rs & 0x0F
                        if s:
                            k += rs >> 4
                            if k > se:
                                raise ValueError("AC run past band end")
                            mag = (
                                w48[bitpos >> 3] >> (48 - (bitpos & 7) - s)
                            ) & ((1 << s) - 1)
                            bitpos += s
                            blk[k] = (
                                mag if mag >= (1 << (s - 1)) else mag - (1 << s) + 1
                            ) << al
                            k += 1
                        else:
                            r = rs >> 4
                            if r != 15:
                                eobrun = (1 << r) - 1
                                if r:
                                    eobrun += (
                                        w48[bitpos >> 3] >> (48 - (bitpos & 7) - r)
                                    ) & ((1 << r) - 1)
                                    bitpos += r
                                break
                            k += 16  # ZRL
                else:  # AC refine (T.81 G.1.2.3 / correction-bit pass)
                    blk = coef_c[row_base + bx]
                    k = ss
                    if eobrun == 0:
                        while k <= se:
                            v16 = (w48[bitpos >> 3] >> (32 - (bitpos & 7))) & 0xFFFF
                            ln = ac_len[v16]
                            if ln == 0:
                                raise ValueError("invalid JPEG Huffman code")
                            rs = ac_val[v16]
                            bitpos += ln
                            s = rs & 0x0F
                            r = rs >> 4
                            if s:
                                bit = (w48[bitpos >> 3] >> (47 - (bitpos & 7))) & 1
                                bitpos += 1
                                val = p1 if bit else m1
                            else:
                                if r != 15:
                                    eobrun = 1 << r
                                    if r:
                                        eobrun += (
                                            w48[bitpos >> 3]
                                            >> (48 - (bitpos & 7) - r)
                                        ) & ((1 << r) - 1)
                                        bitpos += r
                                    break
                                val = 0  # ZRL: 16 zero-history coefficients
                            while k <= se:
                                c = blk[k]
                                if c != 0:
                                    bit = (
                                        w48[bitpos >> 3] >> (47 - (bitpos & 7))
                                    ) & 1
                                    bitpos += 1
                                    if bit and (c & p1) == 0:
                                        blk[k] = c + (p1 if c >= 0 else m1)
                                else:
                                    if r == 0:
                                        break
                                    r -= 1
                                k += 1
                            if val:
                                if k > se:
                                    raise ValueError(
                                        "AC refinement run past band end"
                                    )
                                blk[k] = val
                            k += 1
                    if eobrun > 0:
                        while k <= se:
                            c = blk[k]
                            if c != 0:
                                bit = (w48[bitpos >> 3] >> (47 - (bitpos & 7))) & 1
                                bitpos += 1
                                if bit and (c & p1) == 0:
                                    blk[k] = c + (p1 if c >= 0 else m1)
                            k += 1
                        eobrun -= 1

    if bitpos > nbits:
        raise ValueError("JPEG scan truncated")
    return end


def _assemble_progressive(frame, geom, coef, qtables, adobe_transform=None):
    """Accumulated zigzag coefficients → pixels (dequantize + batched
    IDCT + dense plane assembly + upsample + color convert)."""
    h, w, comps = frame
    hmax, vmax, _mcus_x, _mcus_y, bx_total, by_total = geom
    full = []
    for ci, (_cid, hs, vs, tq) in enumerate(comps):
        by, bx = by_total[ci], bx_total[ci]
        coefs = np.asarray(coef[ci], dtype=np.int64)[:, _UNZIGZAG].reshape(-1, 8, 8)
        blocks = _idct_blocks(coefs, qtables[tq])
        plane = blocks.reshape(by, bx, 8, 8).transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
        up = np.repeat(np.repeat(plane, vmax // vs, axis=0), hmax // hs, axis=1)
        full.append(up[:h, :w])
    out = np.stack(full, axis=-1)
    out = np.clip(np.rint(out), 0, 255).astype(np.uint8)
    return _finish_planes(out, adobe_transform)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y = ycc[..., 0].astype(np.float64)
    cb = ycc[..., 1].astype(np.float64) - 128.0
    cr = ycc[..., 2].astype(np.float64) - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.rint(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


def _finish_planes(out: np.ndarray, adobe_transform: int | None) -> np.ndarray:
    """Upsampled component stack → displayed pixels. 3 components are
    JFIF YCbCr; 4 components are Adobe CMYK (transform 0) or YCCK
    (transform 2), stored INVERTED per Adobe convention, composited to
    RGB the way libjpeg/browsers do: rgb = inverted_cmy * k / 255."""
    n = out.shape[-1]
    if n == 3:
        return _ycbcr_to_rgb(out)
    if n == 4:
        if adobe_transform == 2:  # YCCK: first three are YCbCr of inverted CMY
            cmy = _ycbcr_to_rgb(out[..., :3]).astype(np.float64)
        else:
            cmy = out[..., :3].astype(np.float64)
        k = out[..., 3:].astype(np.float64)
        return np.clip(np.rint(cmy * k / 255.0), 0, 255).astype(np.uint8)
    return out  # single-component grayscale


def _rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    r = rgb[..., 0].astype(np.float64)
    g = rgb[..., 1].astype(np.float64)
    b = rgb[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


# --- encoder ---------------------------------------------------------------------


class _BitWriter:
    __slots__ = ("out", "acc", "bits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.bits = 0

    def write(self, code: int, length: int):
        self.acc = (self.acc << length) | code
        self.bits += length
        while self.bits >= 8:
            byte = (self.acc >> (self.bits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
            self.bits -= 8
        self.acc &= (1 << self.bits) - 1

    def flush(self):
        if self.bits:
            pad = 8 - self.bits
            byte = ((self.acc << pad) | ((1 << pad) - 1)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.bits = 0


def _magnitude(v: int) -> tuple[int, int]:
    """signed value → (size, size-bit code) per T.81 F.1.2.1.1."""
    if v == 0:
        return 0, 0
    size = abs(v).bit_length()
    code = v if v > 0 else v + (1 << size) - 1
    return size, code


def _encode_block(
    writer: _BitWriter,
    block: np.ndarray,
    quant: np.ndarray,
    pred: int,
    dc_codes: dict[int, tuple[int, int]],
    ac_codes: dict[int, tuple[int, int]],
) -> int:
    coef = _A @ (block - 128.0) @ _A.T
    q = np.rint(coef / quant).astype(np.int32)
    zz = q.reshape(-1)[_ZIGZAG]
    size, code = _magnitude(int(zz[0]) - pred)
    hc, hl = dc_codes[size]
    writer.write(hc, hl)
    if size:
        writer.write(code, size)
    run = 0
    last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            hc, hl = ac_codes[0xF0]  # ZRL
            writer.write(hc, hl)
            run -= 16
        size, code = _magnitude(v)
        hc, hl = ac_codes[(run << 4) | size]
        writer.write(hc, hl)
        writer.write(code, size)
        run = 0
    if last_nz < 63:
        hc, hl = ac_codes[0x00]  # EOB
        writer.write(hc, hl)
    return int(zz[0])


def _code_map(table: tuple[list[int], list[int]]) -> dict[int, tuple[int, int]]:
    return {val: (code, length) for code, length, val in _canonical_codes(*table)}


def _pad_to(plane: np.ndarray, bh: int, bw: int) -> np.ndarray:
    h, w = plane.shape
    ph = -(-h // bh) * bh
    pw = -(-w // bw) * bw
    return np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")


def _plane_setup(pixels: np.ndarray, quality: int, subsample):
    """Shared encoder front end: pixels → (component planes, sampling
    factors, quant tables, gray flag, h, w). `subsample` accepts the
    legacy bools (True = 4:2:0, False = 4:4:4) or the explicit mode
    strings '444' / '422' / '420'."""
    pixels = np.asarray(pixels, dtype=np.uint8)
    gray = pixels.ndim == 2 or pixels.shape[-1] == 1
    if pixels.ndim == 3 and pixels.shape[-1] == 1:
        pixels = pixels[..., 0]
    h, w = pixels.shape[:2]
    ql = _scaled_quant(_Q_LUMA, quality)
    qc = _scaled_quant(_Q_CHROMA, quality)
    if gray:
        return [pixels.astype(np.float64)], [(1, 1)], [ql], True, h, w
    mode = {True: "420", False: "444"}.get(subsample, subsample)
    ycc = _rgb_to_ycbcr(pixels)
    y = ycc[..., 0]
    if mode == "420":
        cpad = _pad_to(ycc[..., 1], 2, 2), _pad_to(ycc[..., 2], 2, 2)
        cb = cpad[0].reshape(-1, 2, cpad[0].shape[1] // 2, 2).mean(axis=(1, 3))
        cr = cpad[1].reshape(-1, 2, cpad[1].shape[1] // 2, 2).mean(axis=(1, 3))
        samp = [(2, 2), (1, 1), (1, 1)]
    elif mode == "422":
        cpad = _pad_to(ycc[..., 1], 1, 2), _pad_to(ycc[..., 2], 1, 2)
        cb = cpad[0].reshape(cpad[0].shape[0], -1, 2).mean(axis=2)
        cr = cpad[1].reshape(cpad[1].shape[0], -1, 2).mean(axis=2)
        samp = [(2, 1), (1, 1), (1, 1)]
    elif mode == "444":
        cb, cr = ycc[..., 1], ycc[..., 2]
        samp = [(1, 1), (1, 1), (1, 1)]
    else:
        raise ValueError(f"unknown subsampling mode {subsample!r}")
    return [y, cb, cr], samp, [ql, qc, qc], False, h, w


def encode_jpeg(
    pixels: np.ndarray,
    quality: int = 85,
    subsample: bool = True,
    restart_interval: int = 0,
    app1: bytes | None = None,
) -> bytes:
    """(h, w, 3) RGB or (h, w)/(h, w, 1) gray uint8 → baseline JFIF bytes.

    subsample: True = 4:2:0, False = 4:4:4, or the explicit strings
    '444' / '422' / '420'. restart_interval > 0 writes a DRI segment
    and RSTn markers every that many MCUs (exercises the decoder's
    resync path).
    """
    planes, samp, quants, gray, h, w = _plane_setup(pixels, quality, subsample)
    ql = quants[0]
    qc = quants[1] if not gray else None

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    padded = [
        _pad_to(p, mcus_y * vs * 8, mcus_x * hs * 8)[: mcus_y * vs * 8, : mcus_x * hs * 8]
        for p, (hs, vs) in zip(planes, samp)
    ]

    dc_maps = [_code_map(_HUFF_DC_LUMA)] + [_code_map(_HUFF_DC_CHROMA)] * (len(planes) - 1)
    ac_maps = [_code_map(_HUFF_AC_LUMA)] + [_code_map(_HUFF_AC_CHROMA)] * (len(planes) - 1)

    writer = _BitWriter()
    preds = [0] * len(planes)
    mcu_count = 0
    rst_idx = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                writer.flush()
                writer.out += bytes([0xFF, 0xD0 + rst_idx])
                rst_idx = (rst_idx + 1) % 8
                preds = [0] * len(planes)
            mcu_count += 1
            for ci, ((hs, vs), plane) in enumerate(zip(samp, padded)):
                for by in range(vs):
                    for bx in range(hs):
                        y0 = (my * vs + by) * 8
                        x0 = (mx * hs + bx) * 8
                        preds[ci] = _encode_block(
                            writer,
                            plane[y0 : y0 + 8, x0 : x0 + 8],
                            quants[ci],
                            preds[ci],
                            dc_maps[ci],
                            ac_maps[ci],
                        )
    writer.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    if app1 is not None:
        out += app1  # a complete APP1 segment (e.g. exif.build_exif_app1)
    out += seg(0xDB, b"\x00" + ql.reshape(-1)[_ZIGZAG].astype(np.uint8).tobytes())
    if not gray:
        out += seg(0xDB, b"\x01" + qc.reshape(-1)[_ZIGZAG].astype(np.uint8).tobytes())
    ncomp = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for i in range(ncomp):
        hs, vs = samp[i]
        sof += struct.pack("BBB", i + 1, (hs << 4) | vs, 0 if i == 0 else 1)
    out += seg(0xC0, sof)

    def dht(tc: int, th: int, table) -> bytes:
        bits, values = table
        return seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(values))

    out += dht(0, 0, _HUFF_DC_LUMA) + dht(1, 0, _HUFF_AC_LUMA)
    if not gray:
        out += dht(0, 1, _HUFF_DC_CHROMA) + dht(1, 1, _HUFF_AC_CHROMA)
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for i in range(ncomp):
        sos += bytes([i + 1, 0x00 if i == 0 else 0x11])
    sos += b"\x00\x3f\x00"
    out += seg(0xDA, sos)
    out += writer.out
    out += b"\xff\xd9"
    return bytes(out)

# --- progressive encoder -----------------------------------------------------------


def _optimal_table(freq: list[int]) -> tuple[list[int], list[int]]:
    """Symbol frequencies → (bits[1..16], values): the T.81 Annex K.2
    optimal code-length procedure (reserved all-ones codepoint, ties
    to the highest symbol, 16-bit length limit)."""
    freq = list(freq) + [1]  # reserved codepoint (figure K.9)
    others = [-1] * 257
    codesize = [0] * 257
    while True:
        c1 = c2 = -1
        v = 1 << 62
        for i, f in enumerate(freq):
            if 0 < f <= v:
                v = f
                c1 = i
        v = 1 << 62
        for i, f in enumerate(freq):
            if 0 < f <= v and i != c1:
                v = f
                c2 = i
        if c2 < 0:
            break
        freq[c1] += freq[c2]
        freq[c2] = 0
        codesize[c1] += 1
        while others[c1] >= 0:
            c1 = others[c1]
            codesize[c1] += 1
        others[c1] = c2
        codesize[c2] += 1
        while others[c2] >= 0:
            c2 = others[c2]
            codesize[c2] += 1
    bits = [0] * 33
    for cs in codesize:
        if cs:
            bits[cs] += 1
    i = 32  # limit code lengths to 16 (figure K.10)
    while i > 16:
        while bits[i] > 0:
            j = i - 2
            while bits[j] == 0:
                j -= 1
            bits[i] -= 2
            bits[i - 1] += 1
            bits[j + 1] += 2
            bits[j] -= 1
        i -= 1
    i = 16
    while bits[i] == 0:
        i -= 1
    bits[i] -= 1  # drop the reserved codepoint
    values = [v for cs in range(1, 33) for v in range(256) if codesize[v] == cs]
    return bits[1:17], values


def _quantized_coefs(planes, quants, samp, mcus_x, mcus_y):
    """MCU-padded component planes → per-component zigzag-order
    quantized coefficients, shape (by_total * bx_total, 64) int32
    (one batched forward DCT per component).

    Broadcast matmul, NOT einsum: the baseline encoder computes
    `A @ block @ A.T` per block, and the progressive-vs-baseline
    bit-equality gate needs the same float summation order — einsum
    orders the reduction differently and flips np.rint at exact
    half-integer quantization ties (seen in fuzzing: 18.5 vs
    18.500000000000007)."""
    out = []
    for plane, quant, (hs, vs) in zip(planes, quants, samp):
        by, bx = mcus_y * vs, mcus_x * hs
        blocks = (
            plane.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
            - 128.0
        )
        coefs = _A @ blocks @ _A.T
        q = np.rint(coefs / quant[None, :, :]).astype(np.int32)
        out.append(q.reshape(-1, 64)[:, _ZIGZAG])
    return out


# libjpeg-style successive-approximation scripts (component indexes)
_PROG_SCRIPT_COLOR = [
    ((0, 1, 2), 0, 0, 0, 1),
    ((0,), 1, 5, 0, 2),
    ((1,), 1, 63, 0, 1),
    ((2,), 1, 63, 0, 1),
    ((0,), 6, 63, 0, 2),
    ((0,), 1, 63, 2, 1),
    ((0, 1, 2), 0, 0, 1, 0),
    ((1,), 1, 63, 1, 0),
    ((2,), 1, 63, 1, 0),
    ((0,), 1, 63, 1, 0),
]
_PROG_SCRIPT_GRAY = [
    ((0,), 0, 0, 0, 1),
    ((0,), 1, 5, 0, 2),
    ((0,), 6, 63, 0, 2),
    ((0,), 1, 63, 2, 1),
    ((0,), 0, 0, 1, 0),
    ((0,), 1, 63, 1, 0),
]

_MAX_CORR_BITS = 937  # pending correction bits before a forced EOB flush


def _prog_units(idxs, samp, w, h, hmax, vmax, mcus_x, mcus_y):
    """Yield the [(ci, block_index), ...] lists per restart unit,
    mirroring the decoder: frame MCU grid (dummy blocks included) for
    interleaved scans, the component's own block raster otherwise."""
    bx_total = {ci: mcus_x * samp[ci][0] for ci in idxs}
    if len(idxs) > 1:
        for my in range(mcus_y):
            for mx in range(mcus_x):
                yield [
                    (
                        ci,
                        (my * samp[ci][1] + by) * bx_total[ci]
                        + mx * samp[ci][0]
                        + bx,
                    )
                    for ci in idxs
                    for by in range(samp[ci][1])
                    for bx in range(samp[ci][0])
                ]
    else:
        ci = idxs[0]
        hs, vs = samp[ci]
        bw = -(-(-(-w * hs // hmax)) // 8)
        bh = -(-(-(-h * vs // vmax)) // 8)
        for by in range(bh):
            for bx in range(bw):
                yield [(ci, by * bx_total[ci] + bx)]


def _run_prog_scan(
    scan, coefs, samp, w, h, hmax, vmax, mcus_x, mcus_y,
    emit_sym, emit_bits, emit_rst, restart_interval,
):
    """Drive one progressive scan through emit callbacks. Called twice
    per scan: once counting symbol frequencies, once writing — both
    passes share this code so the streams cannot diverge."""
    idxs, ss, se, ah, al = scan
    tid_of = {ci: (0 if ci == 0 else 1) for ci in idxs}
    preds = {ci: 0 for ci in idxs}
    eobrun = 0
    pending: list[int] = []
    mcu_in_seg = 0

    def flush_eob(ci):
        nonlocal eobrun, pending
        if eobrun > 0:
            r = eobrun.bit_length() - 1
            emit_sym(tid_of[ci], r << 4)
            if r:
                emit_bits(eobrun - (1 << r), r)
            for b in pending:
                emit_bits(b, 1)
            eobrun = 0
            pending = []

    for unit in _prog_units(idxs, samp, w, h, hmax, vmax, mcus_x, mcus_y):
        if restart_interval and mcu_in_seg == restart_interval:
            if ss != 0:
                flush_eob(idxs[0])
            emit_rst()
            preds = {ci: 0 for ci in idxs}
            mcu_in_seg = 0
        mcu_in_seg += 1

        if ss == 0 and ah == 0:  # DC first
            for ci, bi in unit:
                v = int(coefs[ci][bi, 0]) >> al
                size, code = _magnitude(v - preds[ci])
                preds[ci] = v
                emit_sym(tid_of[ci], size)
                if size:
                    emit_bits(code, size)
        elif ss == 0:  # DC refine: the appended bit, no symbols
            for ci, bi in unit:
                emit_bits((int(coefs[ci][bi, 0]) >> al) & 1, 1)
        elif ah == 0:  # AC first
            ((ci, bi),) = unit
            blk = coefs[ci][bi]
            run = 0
            for k in range(ss, se + 1):
                t = int(blk[k])
                v = abs(t) >> al
                if v == 0:
                    run += 1
                    continue
                flush_eob(ci)
                while run > 15:
                    emit_sym(tid_of[ci], 0xF0)
                    run -= 16
                size = v.bit_length()
                code = v if t > 0 else (-v) + (1 << size) - 1
                emit_sym(tid_of[ci], (run << 4) | size)
                emit_bits(code, size)
                run = 0
            if run > 0:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eob(ci)
        else:  # AC refine (T.81 G.1.2.3; libjpeg correction-bit buffering)
            ((ci, bi),) = unit
            blk = coefs[ci][bi]
            absv = [abs(int(blk[k])) >> al for k in range(ss, se + 1)]
            eob = ss - 1
            for k in range(ss, se + 1):
                if absv[k - ss] == 1:
                    eob = k
            r = 0
            br: list[int] = []
            for k in range(ss, se + 1):
                a_ = absv[k - ss]
                if a_ == 0:
                    r += 1
                    continue
                while r > 15 and k <= eob:
                    flush_eob(ci)
                    emit_sym(tid_of[ci], 0xF0)
                    r -= 16
                    for b in br:
                        emit_bits(b, 1)
                    br = []
                if a_ > 1:  # history coefficient: correction bit only
                    br.append(a_ & 1)
                    continue
                flush_eob(ci)
                emit_sym(tid_of[ci], (r << 4) | 1)
                emit_bits(1 if int(blk[k]) > 0 else 0, 1)
                for b in br:
                    emit_bits(b, 1)
                br = []
                r = 0
            if r > 0 or br:
                eobrun += 1
                pending.extend(br)
                if eobrun == 0x7FFF or len(pending) >= _MAX_CORR_BITS:
                    flush_eob(ci)
    if ss != 0:
        flush_eob(idxs[0])


def encode_jpeg_progressive(
    pixels: np.ndarray,
    quality: int = 85,
    subsample: bool = True,
    restart_interval: int = 0,
    scans: list | None = None,
    app1: bytes | None = None,
) -> bytes:
    """(h, w, 3) RGB or (h, w)/(h, w, 1) gray uint8 → progressive
    (SOF2) JFIF bytes: successive-approximation scan script with
    per-scan optimal Huffman tables. The quantized coefficients are
    identical to `encode_jpeg` at the same quality/subsampling, so
    decoding both must yield bit-equal pixels — the differential
    correctness gate. subsample accepts the same True/False/'444'/
    '422'/'420' modes as `encode_jpeg`."""
    planes, samp, quants, gray, h, w = _plane_setup(pixels, quality, subsample)
    ql = quants[0]
    qc = quants[1] if not gray else None

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    padded = [
        _pad_to(p, mcus_y * vs * 8, mcus_x * hs * 8)[
            : mcus_y * vs * 8, : mcus_x * hs * 8
        ]
        for p, (hs, vs) in zip(planes, samp)
    ]
    coefs = _quantized_coefs(padded, quants, samp, mcus_x, mcus_y)
    if scans is None:
        scans = _PROG_SCRIPT_GRAY if gray else _PROG_SCRIPT_COLOR

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    if app1 is not None:
        out += app1
    out += seg(0xDB, b"\x00" + ql.reshape(-1)[_ZIGZAG].astype(np.uint8).tobytes())
    if not gray:
        out += seg(0xDB, b"\x01" + qc.reshape(-1)[_ZIGZAG].astype(np.uint8).tobytes())
    ncomp = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for i in range(ncomp):
        hs, vs = samp[i]
        sof += struct.pack("BBB", i + 1, (hs << 4) | vs, 0 if i == 0 else 1)
    out += seg(0xC2, sof)
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))

    for scan in scans:
        idxs, ss, se, ah, al = scan
        freqs: dict[int, list[int]] = {}

        def count_sym(tid, sym, _freqs=freqs):
            _freqs.setdefault(tid, [0] * 256)[sym] += 1

        _run_prog_scan(
            scan, coefs, samp, w, h, hmax, vmax, mcus_x, mcus_y,
            count_sym, lambda code, ln: None, lambda: None, restart_interval,
        )
        tcls = 0 if ss == 0 else 1
        tables = {tid: _optimal_table(f) for tid, f in freqs.items()}
        maps = {tid: _code_map(t) for tid, t in tables.items()}
        writer = _BitWriter()
        rst_idx = [0]

        def emit_sym(tid, sym, _maps=maps, _writer=writer):
            hc, hl = _maps[tid][sym]
            _writer.write(hc, hl)

        def emit_bits(code, ln, _writer=writer):
            if ln:
                _writer.write(code, ln)

        def emit_rst(_writer=writer, _rst=rst_idx):
            _writer.flush()
            _writer.out += bytes([0xFF, 0xD0 + _rst[0]])
            _rst[0] = (_rst[0] + 1) % 8

        _run_prog_scan(
            scan, coefs, samp, w, h, hmax, vmax, mcus_x, mcus_y,
            emit_sym, emit_bits, emit_rst, restart_interval,
        )
        writer.flush()
        for tid in sorted(tables):
            bits, values = tables[tid]
            out += seg(0xC4, bytes([(tcls << 4) | tid]) + bytes(bits) + bytes(values))
        sos = bytes([len(idxs)])
        for ci in idxs:
            tid = 0 if ci == 0 else 1
            sos += bytes([ci + 1, (tid << 4) | tid])
        sos += bytes([ss, se, (ah << 4) | al])
        out += seg(0xDA, sos)
        out += writer.out
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_multiscan(
    pixels: np.ndarray,
    quality: int = 85,
    subsample=True,
    restart_interval: int = 0,
) -> bytes:
    """Sequential JPEG written as one NON-INTERLEAVED scan per
    component (the T.81 A.2 multi-scan layout some transcoders emit).
    Quantized coefficients are identical to `encode_jpeg` at the same
    settings, so decoding both must be bit-equal — the same
    differential gate that pins the progressive decoder."""
    planes, samp, quants, gray, h, w = _plane_setup(pixels, quality, subsample)
    ql = quants[0]
    qc = quants[1] if not gray else None
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    padded = [
        _pad_to(p, mcus_y * vs * 8, mcus_x * hs * 8)[
            : mcus_y * vs * 8, : mcus_x * hs * 8
        ]
        for p, (hs, vs) in zip(planes, samp)
    ]
    coefs = _quantized_coefs(padded, quants, samp, mcus_x, mcus_y)
    ncomp = len(planes)

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, b"\x00" + ql.reshape(-1)[_ZIGZAG].astype(np.uint8).tobytes())
    if not gray:
        out += seg(0xDB, b"\x01" + qc.reshape(-1)[_ZIGZAG].astype(np.uint8).tobytes())
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for i in range(ncomp):
        hs, vs = samp[i]
        sof += struct.pack("BBB", i + 1, (hs << 4) | vs, 0 if i == 0 else 1)
    out += seg(0xC0, sof)

    def dht(tc: int, th: int, table) -> bytes:
        bits, values = table
        return seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(values))

    out += dht(0, 0, _HUFF_DC_LUMA) + dht(1, 0, _HUFF_AC_LUMA)
    if not gray:
        out += dht(0, 1, _HUFF_DC_CHROMA) + dht(1, 1, _HUFF_AC_CHROMA)
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))

    for ci in range(ncomp):
        hs, vs = samp[ci]
        bw = -(-(-(-w * hs // hmax)) // 8)
        bh = -(-(-(-h * vs // vmax)) // 8)
        bxt = mcus_x * hs
        dc_codes = _code_map(_HUFF_DC_LUMA if ci == 0 else _HUFF_DC_CHROMA)
        ac_codes = _code_map(_HUFF_AC_LUMA if ci == 0 else _HUFF_AC_CHROMA)
        writer = _BitWriter()
        pred = 0
        mcu_count = 0
        rst_idx = 0
        for by in range(bh):
            for bx in range(bw):
                if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                    writer.flush()
                    writer.out += bytes([0xFF, 0xD0 + rst_idx])
                    rst_idx = (rst_idx + 1) % 8
                    pred = 0
                mcu_count += 1
                zz = coefs[ci][by * bxt + bx]
                size, code = _magnitude(int(zz[0]) - pred)
                pred = int(zz[0])
                hc, hl = dc_codes[size]
                writer.write(hc, hl)
                if size:
                    writer.write(code, size)
                run = 0
                last_nz = 0
                for k in range(1, 64):
                    if zz[k]:
                        last_nz = k
                for k in range(1, last_nz + 1):
                    v = int(zz[k])
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        hc, hl = ac_codes[0xF0]
                        writer.write(hc, hl)
                        run -= 16
                    size, code = _magnitude(v)
                    hc, hl = ac_codes[(run << 4) | size]
                    writer.write(hc, hl)
                    writer.write(code, size)
                    run = 0
                if last_nz < 63:
                    hc, hl = ac_codes[0x00]
                    writer.write(hc, hl)
        writer.flush()
        tid = 0 if ci == 0 else 1
        out += seg(0xDA, bytes([1, ci + 1, (tid << 4) | tid, 0, 63, 0]))
        out += writer.out
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_cmyk(
    planes4: np.ndarray,
    quality: int = 90,
    transform: int = 0,
) -> bytes:
    """(h, w, 4) INVERTED-CMYK uint8 (the Adobe storage convention) →
    4-component sequential JFIF bytes with an Adobe APP14 segment.
    transform 0 stores the planes as-is (CMYK); transform 2 stores
    YCCK (the YCbCr forward transform applied to the inverted CMY
    channels, K passthrough). 4:4:4, luma quant/Huffman tables for
    every component — fixture builder for the decoder's Adobe path."""
    planes4 = np.asarray(planes4, dtype=np.uint8)
    if planes4.ndim != 3 or planes4.shape[-1] != 4:
        raise ValueError("encode_jpeg_cmyk needs (h, w, 4) pixels")
    h, w = planes4.shape[:2]
    ql = _scaled_quant(_Q_LUMA, quality)
    if transform == 2:
        ycc = _rgb_to_ycbcr(planes4[..., :3])
        planes = [ycc[..., 0], ycc[..., 1], ycc[..., 2], planes4[..., 3].astype(np.float64)]
    elif transform == 0:
        planes = [planes4[..., i].astype(np.float64) for i in range(4)]
    else:
        raise ValueError("transform must be 0 (CMYK) or 2 (YCCK)")
    samp = [(1, 1)] * 4
    mcus_x = -(-w // 8)
    mcus_y = -(-h // 8)
    padded = [_pad_to(p, mcus_y * 8, mcus_x * 8) for p in planes]
    coefs = _quantized_coefs(padded, [ql] * 4, samp, mcus_x, mcus_y)

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xEE, b"Adobe" + b"\x00\x65\x00\x00\x00\x00" + bytes([transform]))
    out += seg(0xDB, b"\x00" + ql.reshape(-1)[_ZIGZAG].astype(np.uint8).tobytes())
    sof = struct.pack(">BHHB", 8, h, w, 4)
    for i in range(4):
        sof += struct.pack("BBB", i + 1, 0x11, 0)
    out += seg(0xC0, sof)
    bits, values = _HUFF_DC_LUMA
    out += seg(0xC4, bytes([0x00]) + bytes(bits) + bytes(values))
    bits, values = _HUFF_AC_LUMA
    out += seg(0xC4, bytes([0x10]) + bytes(bits) + bytes(values))

    dc_codes = _code_map(_HUFF_DC_LUMA)
    ac_codes = _code_map(_HUFF_AC_LUMA)
    writer = _BitWriter()
    preds = [0] * 4
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for ci in range(4):
                zz = coefs[ci][my * mcus_x + mx]
                size, code = _magnitude(int(zz[0]) - preds[ci])
                preds[ci] = int(zz[0])
                hc, hl = dc_codes[size]
                writer.write(hc, hl)
                if size:
                    writer.write(code, size)
                run = 0
                last_nz = 0
                for k in range(1, 64):
                    if zz[k]:
                        last_nz = k
                for k in range(1, last_nz + 1):
                    v = int(zz[k])
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        hc, hl = ac_codes[0xF0]
                        writer.write(hc, hl)
                        run -= 16
                    size, code = _magnitude(v)
                    hc, hl = ac_codes[(run << 4) | size]
                    writer.write(hc, hl)
                    writer.write(code, size)
                    run = 0
                if last_nz < 63:
                    hc, hl = ac_codes[0x00]
                    writer.write(hc, hl)
    writer.flush()
    sos = bytes([4])
    for i in range(4):
        sos += bytes([i + 1, 0x00])
    sos += b"\x00\x3f\x00"
    out += seg(0xDA, sos)
    out += writer.out
    out += b"\xff\xd9"
    return bytes(out)
