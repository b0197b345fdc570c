"""Run the crawl's seen-set cogroup kernels in-process on pandas frames.

``crawl_spark`` folds, probes and deletes seen keys through
``seenset_merge`` / ``seenset_probe`` / ``seenset_remove``: one
``cogroup(shard).applyInPandas`` call per shard, over a table with one
blob row per shard. These helpers make the same per-shard calls to the
same kernel functions without Spark, so the seen set's guarantees are
tested on the code the crawl runs.

Shards follow ``spark_frontier._shard_col``: ``pmod(h64, n_shards)``
over the signed ``h64`` long, which is ``h64 % n_shards`` on an int64
array. Blob tables are ``{shard: one-row frame}``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

from mhtml_to_html_spark.frontier.seenset import url_hash64
from mhtml_to_html_spark.frontier.spark_frontier import (
    _seenset_merge_fn,
    _seenset_probe_fn,
    _seenset_remove_fn,
)

_NO_BLOB = pd.DataFrame({"shard": pd.Series([], dtype="int32"), "bloom": [], "cuckoo": []})


def h64_of(keys) -> np.ndarray:
    """The ``h64`` column of ``keys`` as Spark carries it: a signed long."""
    return np.array([url_hash64(k) for k in keys], dtype=np.uint64).astype(np.int64)


def _by_shard(h64s, n_shards: int) -> dict[int, pd.DataFrame]:
    h = np.asarray(h64s).astype(np.uint64).astype(np.int64)
    shard = h % n_shards
    return {
        int(s): pd.DataFrame({"h64": h[shard == s], "shard": np.int32(s)})
        for s in np.unique(shard)
    }


def _cogroup(kernel, blobs, rows_by_shard) -> dict[int, pd.DataFrame]:
    """One kernel call per shard present on either side, as cogroup
    makes them; a shard whose kernel returns no row has no blob."""
    out = {}
    for s in sorted(set(blobs) | set(rows_by_shard)):
        rows = rows_by_shard.get(s, pd.DataFrame({"h64": pd.Series([], dtype="int64")}))
        pdf = kernel((s,), blobs.get(s, _NO_BLOB), rows)
        if len(pdf):
            out[s] = pdf
    return out


def merge(blobs, h64s, n_shards: int, bloom_bits: int, cuckoo_buckets: int):
    """``seenset_merge``: fold ``h64s`` into the blob table."""
    kernel = _seenset_merge_fn(bloom_bits, cuckoo_buckets)
    return _cogroup(kernel, blobs, _by_shard(h64s, n_shards))


def remove(blobs, h64s, n_shards: int):
    """``seenset_remove``: delete ``h64s`` from the blob table."""
    return _cogroup(_seenset_remove_fn(), blobs, _by_shard(h64s, n_shards))


def probe(blobs, h64s, n_shards: int) -> np.ndarray:
    """``seenset_probe``: the ``maybe_seen`` flag of each of ``h64s``,
    in input order."""
    kernel = _seenset_probe_fn(["h64", "shard", "maybe_seen"])
    h = np.asarray(h64s).astype(np.uint64).astype(np.int64)
    out = np.zeros(len(h), dtype=bool)
    shard = h % n_shards
    for s, cand in _by_shard(h, n_shards).items():
        got = kernel((s,), cand, blobs.get(s, _NO_BLOB))
        out[shard == s] = got["maybe_seen"].to_numpy(dtype=bool)
    return out


def through_arrow(blobs):
    """The blob table after an Arrow round trip, as a snapshot write
    and reload or a shuffle hands it to the next kernel."""
    return {s: pa.Table.from_pandas(pdf).to_pandas() for s, pdf in blobs.items()}
