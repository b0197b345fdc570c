"""Counting-Bloom / cuckoo-filter correctness: no false negatives,
deletion works, serialization round-trips. The sharded tests run the
crawl's seen-set cogroup kernels in-process (tests/helpers/seenset.py)."""

import numpy as np

from mhtml_to_html_spark.frontier.seenset import CountingBloom, CuckooFilter, url_hash64
from tests.helpers import seenset as kernels

KEYS = [f"https://host{i % 13}.example.com/p{i}" for i in range(2000)]
ABSENT = [f"https://other{i}.example.net/x{i}" for i in range(2000)]


def test_counting_bloom_no_false_negatives():
    bloom = CountingBloom(1 << 16, 4)
    for k in KEYS:
        bloom.add(url_hash64(k))
    assert all(bloom.might_contain(url_hash64(k)) for k in KEYS)


def test_counting_bloom_fpp_reasonable():
    bloom = CountingBloom(1 << 16, 4)
    for k in KEYS:
        bloom.add(url_hash64(k))
    fp = sum(bloom.might_contain(url_hash64(k)) for k in ABSENT)
    assert fp / len(ABSENT) < 0.05


def test_counting_bloom_delete():
    bloom = CountingBloom(1 << 16, 4)
    for k in KEYS:
        bloom.add(url_hash64(k))
    for k in KEYS[:500]:
        bloom.remove(url_hash64(k))
    # removed keys may still collide, but the retained ones must remain
    assert all(bloom.might_contain(url_hash64(k)) for k in KEYS[500:])


def test_counting_bloom_vectorized_matches_scalar():
    bloom = CountingBloom(1 << 14, 4)
    for k in KEYS[:300]:
        bloom.add(url_hash64(k))
    hs = np.array([url_hash64(k) for k in KEYS[:300] + ABSENT[:300]], dtype=np.uint64)
    vec = bloom.might_contain_many(hs)
    scalar = np.array([bloom.might_contain(int(h)) for h in hs])
    assert (vec == scalar).all()


def _per_key_bloom(counts, n_bits, k, adds, dels):
    bloom = CountingBloom(n_bits, k)
    bloom.counts = counts.copy()
    for h in adds:
        bloom.add(int(h))
    for h in dels:
        bloom.remove(int(h))
    return bloom


def test_counting_bloom_many_equals_per_key_fold():
    """add_many/remove_many give the blob bytes of the per-key fold:
    duplicate keys, saturated (sticky) counters, counters floored at 0,
    and a non-power-of-two size where one key's positions can repeat."""
    rng = np.random.default_rng(7)
    for n_bits, k in [(64, 4), (97, 4), (1 << 12, 3)]:
        keys = rng.integers(0, 1 << 63, size=1500, dtype=np.int64).astype(np.uint64)
        keys[1::2] |= np.uint64(1 << 63)
        adds = np.concatenate([keys, keys[:300], keys[:300]])  # duplicates
        dels = np.concatenate([keys[:200], keys[:50], rng.permutation(keys)[:400]])
        start = rng.integers(0, 256, size=n_bits).astype(np.uint8)
        start[:5] = 255
        start[5:10] = 0
        for a, d in [(adds, []), ([], dels), (adds, dels)]:
            scalar = _per_key_bloom(start, n_bits, k, a, d)
            vec = CountingBloom(n_bits, k)
            vec.counts = start.copy()
            vec.add_many(np.asarray(a, dtype=np.uint64))
            vec.remove_many(np.asarray(d, dtype=np.uint64))
            assert vec.to_bytes() == scalar.to_bytes(), (n_bits, k, len(a), len(d))
        assert (scalar.counts == 255).any(), "no counter saturated"
    scalar = _per_key_bloom(np.zeros(97, np.uint8), 97, 4, keys, [])
    collide = [h for h in keys.tolist() if len(set(scalar._positions(h).tolist())) < 4]
    assert collide, "no key repeated a position at n_bits=97"


def test_seenset_kernels_equal_per_key_fold():
    """The crawl's merge and remove kernels write the Bloom bytes of a
    per-key fold of the same keys, duplicates included."""
    hs = kernels.h64_of(KEYS + KEYS[:400])
    blobs = kernels.merge({}, hs, 4, 1 << 10, 1 << 8)
    blobs = kernels.remove(blobs, hs[:700], 4)
    shard = hs % 4
    for s, blob in blobs.items():
        mine = hs[shard == s].astype(np.uint64)
        expect = _per_key_bloom(
            np.zeros(1 << 10, np.uint8), 1 << 10, 4, mine, hs[:700][shard[:700] == s].astype(np.uint64)
        )
        assert bytes(blob["bloom"].iloc[0]) == expect.to_bytes()


def test_counting_bloom_serialization():
    bloom = CountingBloom(1 << 12, 3)
    for k in KEYS[:100]:
        bloom.add(url_hash64(k))
    restored = CountingBloom.from_bytes(bloom.to_bytes())
    assert (restored.counts == bloom.counts).all()
    assert restored.k == 3


def test_cuckoo_membership_and_delete():
    cf = CuckooFilter(1 << 12)
    for k in KEYS:
        cf.add(url_hash64(k))
    assert all(cf.contains(url_hash64(k)) for k in KEYS), "cuckoo false negative"
    fp = sum(cf.contains(url_hash64(k)) for k in ABSENT)
    assert fp / len(ABSENT) < 0.01
    for k in KEYS[:500]:
        assert cf.remove(url_hash64(k))
    assert all(cf.contains(url_hash64(k)) for k in KEYS[500:])


def test_cuckoo_serialization():
    cf = CuckooFilter(1 << 10)
    for k in KEYS[:800]:
        cf.add(url_hash64(k))
    restored = CuckooFilter.from_bytes(cf.to_bytes())
    assert (restored.table == cf.table).all()
    assert restored.stash == cf.stash
    assert all(restored.contains(url_hash64(k)) for k in KEYS[:800])


def test_sharded_hybrid_round_trip():
    hs = kernels.h64_of(KEYS)
    blobs = kernels.merge({}, hs, 4, 1 << 16, 1 << 12)
    assert kernels.probe(blobs, hs, 4).all()
    restored = kernels.through_arrow(blobs)
    assert kernels.probe(restored, hs, 4).all()
    fp = kernels.probe(restored, kernels.h64_of(ABSENT), 4).mean()
    assert fp < 0.01
    restored = kernels.remove(restored, hs[:300], 4)
    assert kernels.probe(restored, hs[300:], 4).all()


def test_cuckoo_merge_overflow_lands_in_stash():
    """Adds far past capacity (600 keys, 32 slots) overflow into the
    stash and are never lost."""
    cf = CuckooFilter(8)
    for k in KEYS[:600]:
        cf.add(url_hash64(k))
    assert cf.stash
    assert all(cf.contains(url_hash64(k)) for k in KEYS[:600])


def test_sharded_vectorized_probe_matches_scalar():
    hs = kernels.h64_of(KEYS[:1000] + ABSENT[:1000])
    blobs = kernels.merge({}, hs[:1000], 8, 1 << 14, 1 << 8)
    vec = kernels.probe(blobs, hs, 8)
    scalar = []
    for h in hs.astype(np.uint64):
        blob = blobs[int(h % np.uint64(8))]
        bloom = CountingBloom.from_bytes(blob["bloom"].iloc[0])
        cuckoo = CuckooFilter.from_bytes(blob["cuckoo"].iloc[0])
        scalar.append(bloom.might_contain(int(h)) and cuckoo.contains(int(h)))
    assert vec.tolist() == scalar
    assert vec[:1000].all(), "a seen key probed definitely-new"


def test_sharded_capacity_million_keys():
    """North-rule scale contract: at 10^6 keys the hybrid stays
    false-negative-free (hard requirement) with a useful
    false-positive rate (the prune actually prunes)."""
    n = 1_000_000
    rng = np.random.default_rng(42)
    present = rng.integers(0, 1 << 63, size=n, dtype=np.int64).astype(np.uint64)
    absent = (
        rng.integers(0, 1 << 63, size=100_000, dtype=np.int64).astype(np.uint64)
        | np.uint64(1 << 63)
    )  # disjoint by the top bit; negative as Spark's signed h64
    blobs = kernels.merge({}, present, 16, 1 << 20, 1 << 16)
    assert kernels.probe(blobs, present, 16).all(), "false negative at 10^6 keys"
    fpp = kernels.probe(blobs, absent, 16).mean()
    assert fpp < 0.02, f"false-positive rate {fpp:.3%} — the prune is useless"


def test_cuckoo_contains_many_matches_contains():
    """The vectorized probe equals per-key ``contains`` on inserted
    keys, on random keys, and on fingerprints that sit in the stash
    (600 keys in 32 slots)."""
    cf = CuckooFilter(8)
    inserted = [url_hash64(k) for k in KEYS[:600]]
    for h in inserted:
        cf.add(h)
    assert cf.stash
    stashed = [
        h for h in inserted
        if not (cf.table[cf._index1(h)] == cf._fingerprint(h)).any()
        and not (
            cf.table[cf._index2(cf._index1(h), cf._fingerprint(h))] == cf._fingerprint(h)
        ).any()
    ]
    assert stashed, "fixture: some fingerprints live only in the stash"
    rng = np.random.default_rng(7)
    random_keys = rng.integers(0, 1 << 63, size=5000, dtype=np.int64).astype(np.uint64)
    for hs in (inserted, stashed, random_keys, [url_hash64(k) for k in ABSENT]):
        hs = np.asarray(hs, dtype=np.uint64)
        assert cf.contains_many(hs).tolist() == [cf.contains(int(h)) for h in hs]
    big = CuckooFilter(1 << 12)
    for k in KEYS:
        big.add(url_hash64(k))
    hs = np.asarray([url_hash64(k) for k in KEYS + ABSENT], dtype=np.uint64)
    assert big.contains_many(hs).tolist() == [big.contains(int(h)) for h in hs]
