"""Per-shard structures of the counting-Bloom + cuckoo-filter seen set.

The 10^10-URL design (north_rule):

- URLs are keyed by ``xxhash/md5(canonicalize_url(url))`` and
  hash-partitioned into P shards; each shard owns a counting-Bloom
  (fast membership, supports deletion when a crawl segment is
  retracted) and a cuckoo filter (compact exact-ish verify layer whose
  fingerprints make false positives ~2^-f instead of the Bloom's fpp).
- Shard blobs serialize to bytes rows, so the whole structure lives in
  a DataFrame/Parquet and survives checkpoints.
- The sharding and the cogroup merge/probe/remove kernels live in
  ``spark_frontier``: the filters accelerate, the exact seen table decides.

Numpy-vectorized; no Spark imports (usable inside pandas UDFs).
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np


def url_hash64(key: str) -> int:
    """Stable 64-bit hash of a canonical URL (md5-based, portable)."""
    return int.from_bytes(hashlib.md5(key.encode("utf-8")).digest()[:8], "big")


class CountingBloom:
    """Counting Bloom filter: k derived hash positions, uint8 counters
    (saturating), delete-capable."""

    def __init__(self, n_bits: int = 1 << 16, k: int = 4):
        self.n_bits = n_bits
        self.k = k
        self.counts = np.zeros(n_bits, dtype=np.uint8)

    def _positions(self, h64: int) -> np.ndarray:
        # double hashing: pos_i = h1 + i*h2 (Kirsch–Mitzenmacher)
        h1 = h64 & 0xFFFFFFFF
        h2 = (h64 >> 32) | 1
        return (h1 + np.arange(self.k, dtype=np.uint64) * h2) % self.n_bits

    def add(self, h64: int) -> None:
        pos = self._positions(h64)
        counts = self.counts[pos]
        self.counts[pos] = np.minimum(counts.astype(np.uint16) + 1, 255).astype(np.uint8)

    def remove(self, h64: int) -> None:
        pos = self._positions(h64)
        counts = self.counts[pos]
        # saturated counters are sticky (standard counting-Bloom rule)
        dec = np.where((counts > 0) & (counts < 255), counts - 1, counts)
        self.counts[pos] = dec

    def _positions_many(self, h64s: np.ndarray) -> np.ndarray:
        """:meth:`_positions` of each uint64 key, as an (n, k) array."""
        h64s = np.asarray(h64s, dtype=np.uint64)
        h1 = h64s & np.uint64(0xFFFFFFFF)
        h2 = (h64s >> np.uint64(32)) | np.uint64(1)
        steps = np.arange(self.k, dtype=np.uint64)
        return ((h1[:, None] + steps * h2[:, None]) % np.uint64(self.n_bits)).astype(np.int64)

    def _hits(self, h64s: np.ndarray) -> np.ndarray:
        """Per counter, how many of the uint64 keys ``h64s`` map to it,
        each key counting a position once (as :meth:`add` does)."""
        pos = self._positions_many(h64s)
        first = np.ones(pos.shape, dtype=bool)
        for j in range(1, self.k):
            first[:, j] = (pos[:, :j] != pos[:, j : j + 1]).all(axis=1)
        return np.bincount(pos[first], minlength=self.n_bits)

    def add_many(self, h64s: np.ndarray) -> None:
        """:meth:`add` of every key, folded at once: adds saturate at
        255, so the sum clipped once equals the per-key clips."""
        self.counts = np.minimum(self.counts + self._hits(h64s), 255).astype(np.uint8)

    def remove_many(self, h64s: np.ndarray) -> None:
        """:meth:`remove` of every key, folded at once: 255 stays
        sticky, any other counter floors at 0."""
        c = self.counts.astype(np.int64)
        self.counts = np.where(c == 255, 255, np.maximum(c - self._hits(h64s), 0)).astype(np.uint8)

    def might_contain(self, h64: int) -> bool:
        return bool(np.all(self.counts[self._positions(h64)] > 0))

    def might_contain_many(self, h64s: np.ndarray) -> np.ndarray:
        return (self.counts[self._positions_many(h64s)] > 0).all(axis=1)

    def to_bytes(self) -> bytes:
        return struct.pack("<II", self.n_bits, self.k) + self.counts.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "CountingBloom":
        n_bits, k = struct.unpack_from("<II", blob, 0)
        f = cls(n_bits, k)
        f.counts = np.frombuffer(blob, dtype=np.uint8, count=n_bits, offset=8).copy()
        return f


class CuckooFilter:
    """Cuckoo filter: 16-bit fingerprints, 4-way buckets, partial-key
    cuckoo eviction. Exact-ish verify layer: a hit means 'same
    fingerprint in one of two candidate buckets' (fp rate ~ 2^-13 at
    4 slots); deletion supported."""

    SLOTS = 4
    MAX_KICKS = 500

    def __init__(self, n_buckets: int = 1 << 12):
        assert n_buckets & (n_buckets - 1) == 0, "n_buckets must be a power of two"
        self.n_buckets = n_buckets
        self.table = np.zeros((n_buckets, self.SLOTS), dtype=np.uint16)
        self.stash: set[tuple[int, int]] = set()  # overflow, never lossy

    def _fingerprint(self, h64: int) -> int:
        fp = (h64 >> 48) & 0xFFFF
        return fp or 1  # 0 marks an empty slot

    def _index1(self, h64: int) -> int:
        return h64 & (self.n_buckets - 1)

    def _index2(self, i1: int, fp: int) -> int:
        # partial-key: i2 = i1 xor hash(fp)
        return (i1 ^ (fp * 0x5BD1E995)) & (self.n_buckets - 1)

    def add(self, h64: int) -> None:
        fp = self._fingerprint(h64)
        self._insert_fp(self._index1(h64), fp)

    def _insert_fp(self, i1: int, fp: int) -> None:
        """Insert a fingerprint known to belong at bucket ``i1`` (or its
        partial-key alternate). Never lossy: eviction overflow lands in
        the stash, so ``contains`` has NO false negatives — the property
        the seen-set prune's exactly-once guarantee rides on."""
        i2 = self._index2(i1, fp)
        for i in (i1, i2):
            empty = np.where(self.table[i] == 0)[0]
            if len(empty):
                self.table[i, empty[0]] = fp
                return
        # evict
        rng = np.random.default_rng((i1 * 0x9E3779B1 + fp) & 0xFFFFFFFF)
        i = i1
        for _ in range(self.MAX_KICKS):
            slot = int(rng.integers(0, self.SLOTS))
            fp, self.table[i, slot] = int(self.table[i, slot]), fp
            i = self._index2(i, fp)
            empty = np.where(self.table[i] == 0)[0]
            if len(empty):
                self.table[i, empty[0]] = fp
                return
        self.stash.add((i, fp))

    def contains(self, h64: int) -> bool:
        fp = self._fingerprint(h64)
        i1 = self._index1(h64)
        i2 = self._index2(i1, fp)
        if fp in self.table[i1] or fp in self.table[i2]:
            return True
        return (i1, fp) in self.stash or (i2, fp) in self.stash

    def contains_many(self, h64s: np.ndarray) -> np.ndarray:
        """:meth:`contains` of every uint64 key at once: fingerprints
        and both bucket indices in numpy, both buckets compared in one
        pass; only the misses look in the stash."""
        h = np.asarray(h64s, dtype=np.uint64)
        fp = ((h >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.int64)
        fp[fp == 0] = 1
        mask = self.n_buckets - 1
        i1 = (h & np.uint64(mask)).astype(np.int64)
        # fp < 2^16 and the multiplier < 2^31, so the product fits int64
        i2 = (i1 ^ (fp * 0x5BD1E995)) & mask
        fp16 = fp.astype(np.uint16)[:, None]
        hit = ((self.table[i1] == fp16) | (self.table[i2] == fp16)).any(axis=1)
        if self.stash:
            for j in np.flatnonzero(~hit).tolist():
                f = int(fp[j])
                hit[j] = (int(i1[j]), f) in self.stash or (int(i2[j]), f) in self.stash
        return hit

    def remove(self, h64: int) -> bool:
        fp = self._fingerprint(h64)
        i1 = self._index1(h64)
        for i in (i1, self._index2(i1, fp)):
            slots = np.where(self.table[i] == fp)[0]
            if len(slots):
                self.table[i, slots[0]] = 0
                return True
            if (i, fp) in self.stash:
                self.stash.remove((i, fp))
                return True
        return False

    def to_bytes(self) -> bytes:
        stash = sorted(self.stash)
        head = struct.pack("<II", self.n_buckets, len(stash))
        body = self.table.tobytes()
        tail = b"".join(struct.pack("<IH", i, fp) for i, fp in stash)
        return head + body + tail

    @classmethod
    def from_bytes(cls, blob: bytes) -> "CuckooFilter":
        n_buckets, n_stash = struct.unpack_from("<II", blob, 0)
        f = cls(n_buckets)
        count = n_buckets * cls.SLOTS
        f.table = (
            np.frombuffer(blob, dtype=np.uint16, count=count, offset=8)
            .reshape(n_buckets, cls.SLOTS)
            .copy()
        )
        offset = 8 + count * 2
        for _ in range(n_stash):
            i, fp = struct.unpack_from("<IH", blob, offset)
            f.stash.add((i, fp))
            offset += 6
        return f
