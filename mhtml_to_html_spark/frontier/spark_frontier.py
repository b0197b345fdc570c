"""Distributed URL frontier: driver fixpoint loop over DataFrames.

Each round (the Spark shape of SURVEY.md §3.3):

    [drained? recrawl injection: stalest-per-host revisits re-enter;
     their keys DELETED from the exact seen table + hybrid filter]
    canonical frontier ──▶ dedup-first (min_by on key)
             ──sharded bloom+cuckoo prune + exact anti-join──▶ new candidates
             ──per-host budget window ordered by (depth, host_rank,
               disc_seq) (+ opt-in politeness-debt boost, robots
               token-bucket)──▶ fetch_now / deferred
             ──global fetch position over the same keys──▶ manifest
             ──fetch UDF (scripted double, retry/backoff; canonicalizes
               the children it emits)──▶ results
             ──explode children──▶ discovered
    seen/failed/metrics updated; snapshot checkpoint; repeat.

Determinism contract: every "first" and every position is derived from
explicit columns (depth, host_rank, disc_seq) — the pure-Python oracle
(oracle.py) replays the same semantics and the outputs must match
byte-for-byte (tests/test_frontier.py).

Scale notes (no single-partition exchange, no driver-held state):
- the seen-set is the north_rule's partitioned counting-Bloom +
  cuckoo-filter hybrid, kept as a DataFrame of shard-blob rows
  (seenset.py structures serialized per shard). Updates fold new keys
  into their shard via cogroup-applyInPandas (one task per shard);
  probes co-partition candidates with their shard's blob the same way
  — the filter is never broadcast, never driver-held, and rides
  snapshots as ordinary binary rows, so 10^10-key sizing (~10 GiB of
  filter) never needs one machine. The exact key table stays the
  source of truth: a filter false positive never drops a URL (exact
  anti-join verifies the maybe-seen sliver), and because neither
  structure has false negatives, a seen URL is never refetched;
- the priority queue is the per-host politeness window (partitioned
  by host, ordered by depth, host_rank, disc_seq) plus the global
  fetch position below. The window's host exchange is its only
  shuffle, and a robots or debt hash join on host (above
  :data:`BROADCAST_MAX_ROWS`) already provides that partitioning, so
  the window reuses it;
- global fetch positions, discovery sequence numbers and recrawl
  sequence numbers come from indexing.index_rows: the two-pass
  zipWithIndex index over range-partitioned data once the rows to
  index reach indexing.DIST_INDEX_MIN_ROWS, one window task below it.
  Both paths produce the identical logical order and both are pinned
  to the oracle by tests;
- per-round metrics are one agg; nothing per-row ever reaches the
  driver (the test-contract order collection at the very end is the
  only exception, and ``collect_order=False`` turns it off);
- driver-side frames (seeds, empty state tables) are Arrow-built JVM
  ``LocalRelation``s (:func:`local_frame`), so empty state is pruned
  from unions and anti-joins by the optimizer and no scan runs Python;
- frontier rows are canonical from birth (:func:`canonical_fields` on
  the driver's seeds and on the fetch UDF's children; recrawls reuse
  seen's columns; snapshots store them), so no round runs a
  canonicalize pass, and the fetch stage runs in whole waves of the
  session's slots, since each Python task pays a fixed ~65ms of slot
  time before its UDF runs (step 7): a robots-on round below
  slots × 256 fetches starts one robots task plus one fetch task per
  slot.
"""

from __future__ import annotations

import functools
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.catalog import SnapshotCatalog
from ..urlnorm import canonicalize_url, is_fetchable, url_host
from .fixtures import children_of, fetch_with_retries, host_rank, host_rank_col
from .indexing import index_rows
from .seenset import url_hash64

# a frontier row is canonical from birth: (url, depth, disc_seq) plus
# the canonical fields of :func:`canonical_fields`
_CANON_FIELDS = "key string, host string, host_rank int, h64 long"
_CANON_SCHEMA = f"url string, depth int, disc_seq long, {_CANON_FIELDS}"
_CANON_COLS = ["url", "depth", "disc_seq", "key", "host", "host_rank", "h64"]
_CHILD_FIELDS = ("url", "key", "host", "host_rank", "h64")
# the children :func:`fetch_row` emits, as the fetch UDF and the
# streaming gate both output them
_CHILDREN_TYPE = f"array<struct<url string, {_CANON_FIELDS}>>"
_FETCH_SCHEMA = (
    "key string, host string, depth int, disc_seq long, pos long, status string, "
    f"attempts int, delay_ms long, h64 long, children {_CHILDREN_TYPE}"
)
_SEEN_SCHEMA = "key string, h64 long, host string, fetched_round int"
_SHARD_BLOB_SCHEMA = "shard int, bloom binary, cuckoo binary"
# fetch-stage task size target (step 7's wave count; sizing rule
# there). Set when a Python task's fixed cost was ~300ms; retuning it
# for the ~65ms the package's _zipcache leaves is still open.
_FETCH_ROWS_PER_TASK = 256
# The most rows a host-keyed join side (the robots cache, the debt
# table) may have and still be broadcast. Both grow with the hosts met;
# above this they take a plain hash join on host, whose exchange the
# step-5 politeness window reuses (at 10^7-10^8 hosts a forced
# broadcast is a multi-GB executor OOM).
BROADCAST_MAX_ROWS = 100_000
# Seen-set sizing. The hybrid filters are an accelerator, never the
# source of truth, so undersizing degrades the prune (more rows pay the
# exact anti-join) without ever corrupting the crawl. Size the Bloom
# bits ≈ 10× the expected keys per shard and the cuckoo buckets ≈ the
# expected keys per shard / 3.8 (4-slot buckets at ~95% load); at
# 10^10 URLs that is ~1.25 GiB of Bloom counters across e.g. 1024
# shards. The structure only ever exists as shard rows co-partitioned
# with their keys, so nothing needs one machine to hold (or broadcast)
# the whole filter. The shard count must be a power of two (see
# :func:`_shard_col`).
SEEN_SHARDS = 8
SEEN_BLOOM_BITS = 1 << 18
SEEN_CUCKOO_BUCKETS = 1 << 13
# rounds of robots-cache union pieces between lineage flattens (step 4)
ROBOTS_FLATTEN_EVERY = 8


def local_frame(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """``rows`` (driver-held tuples) as a DataFrame with the DDL schema
    ``ddl``, built from an Arrow table so it is a JVM ``LocalRelation``.
    A Python list would go through ``parallelize`` and plan as ``Scan
    ExistingRDD``: every scan of it, even an empty one, starts Python
    worker tasks, and the optimizer cannot see that it is empty. An
    empty ``LocalRelation`` plans as ``LocalTableScan <empty>``, which
    Catalyst prunes from unions and anti-joins."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(ddl)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema=schema)


def canonical_fields(url: str) -> tuple[str, str, int, int]:
    """``(key, host, host_rank, h64)`` of one URL: the crawl's single
    canonicalization, shared by the seeds (:func:`seed_rows`), the
    children :func:`fetch_row` emits and the raw-URL streaming entry
    (``streaming/frontier.py``). ``h64`` is signed two's-complement so
    it fits LongType."""
    key = canonicalize_url(url)
    host = url_host(key) or ""
    h64 = url_hash64(key)
    return key, host, host_rank(host), h64 - (1 << 64) if h64 >= 1 << 63 else h64


def seed_rows(seeds: list[str]) -> list[tuple]:
    """The canonical frontier rows (``_CANON_COLS``) of a crawl's seeds:
    the fetch-eligible ones, urn-unwrapped once, at depth 0 with
    ``disc_seq`` 0, 1, ... in seed order. The batch crawl and the
    streaming feeder both start from these rows."""
    from ..urlnorm import unwrap_urn

    urls = [unwrap_urn(u) for u in seeds if is_fetchable(u)]
    return [(u, 0, disc, *canonical_fields(u)) for disc, u in enumerate(urls)]


# --- sharded seen-set as a DataFrame of shard blobs ---------------------------
#
# The north_rule's partitioned counting-Bloom + cuckoo-filter hybrid,
# kept WHERE a 10^10-key structure must live: as rows, one per shard,
# co-partitioned with the keys that probe and update it. Nothing is
# ever broadcast or driver-held — at 10^10 URLs the full filter is
# ~10 GiB and only exists as the union of its shard rows (which is
# also how it rides snapshots: ordinary binary columns in parquet).
#
# shard = h64 % n_shards with n_shards a power of two, so the JVM
# pmod over the SIGNED h64 and Python's unsigned modulo agree
# (2^64 ≡ 0 mod 2^k).


def _shard_col(n_shards: int):
    return F.pmod(F.col("h64"), F.lit(n_shards)).cast("int")


def _seenset_merge_fn(bloom_bits: int, cuckoo_buckets: int):
    """Cogroup(shard): (existing blob row | ∅) × (new h64 rows | ∅) →
    updated blob row. Work per task is one shard's blob + its adds."""

    def merge(key, blob_pdf, adds_pdf):
        import numpy as np
        import pandas as pd

        from .seenset import CountingBloom, CuckooFilter

        if len(blob_pdf):
            bloom = CountingBloom.from_bytes(bytes(blob_pdf["bloom"].iloc[0]))
            cuckoo = CuckooFilter.from_bytes(bytes(blob_pdf["cuckoo"].iloc[0]))
        else:
            bloom = CountingBloom(bloom_bits, 4)
            cuckoo = CuckooFilter(cuckoo_buckets)
        hs = adds_pdf["h64"].to_numpy(dtype=np.int64).astype(np.uint64)
        bloom.add_many(hs)
        for h in hs.tolist():
            cuckoo.add(h)
        return pd.DataFrame(
            [{"shard": int(key[0]), "bloom": bloom.to_bytes(), "cuckoo": cuckoo.to_bytes()}]
        )

    return merge


def seenset_merge(seenset_df: DataFrame, adds: DataFrame, n_shards: int,
                  bloom_bits: int, cuckoo_buckets: int) -> DataFrame:
    """Fold an ``h64`` column into the shard-blob table (lazy)."""
    keyed = adds.select("h64").withColumn("shard", _shard_col(n_shards))
    return (
        seenset_df.groupby("shard")
        .cogroup(keyed.groupby("shard"))
        .applyInPandas(_seenset_merge_fn(bloom_bits, cuckoo_buckets), schema=_SHARD_BLOB_SCHEMA)
    )


def _seenset_probe_fn(out_schema_cols):
    """Cogroup(shard): candidates × blob row → candidates + maybe_seen.
    Vectorized Bloom reject first; cuckoo verify only on the
    Bloom-positive sliver. No blob → shard has never seen a key."""

    def probe(key, cand_pdf, blob_pdf):
        import numpy as np
        import pandas as pd

        from .seenset import CountingBloom, CuckooFilter

        if len(cand_pdf) == 0:
            return pd.DataFrame(columns=out_schema_cols)
        if len(blob_pdf) == 0:
            return cand_pdf.assign(maybe_seen=False)
        bloom = CountingBloom.from_bytes(bytes(blob_pdf["bloom"].iloc[0]))
        cuckoo = CuckooFilter.from_bytes(bytes(blob_pdf["cuckoo"].iloc[0]))
        hs = cand_pdf["h64"].to_numpy(dtype=np.int64).astype(np.uint64)
        maybe = bloom.might_contain_many(hs)
        hit_idx = np.where(maybe)[0]
        for j in hit_idx:
            maybe[j] = cuckoo.contains(int(hs[j]))
        return cand_pdf.assign(maybe_seen=maybe)

    return probe


def seenset_probe(candidates: DataFrame, seenset_df: DataFrame, n_shards: int) -> DataFrame:
    """candidates (with h64) → + ``maybe_seen`` boolean; one task per
    shard, each holding exactly one blob and its co-partitioned keys."""
    keyed = candidates.withColumn("shard", _shard_col(n_shards))
    cols = keyed.columns + ["maybe_seen"]
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in keyed.schema.fields
    ) + ", maybe_seen boolean"
    return (
        keyed.groupby("shard")
        .cogroup(seenset_df.groupby("shard"))
        .applyInPandas(_seenset_probe_fn(cols), schema=schema)
        .drop("shard")
    )


def _seenset_remove_fn():
    """Cogroup(shard): (blob row | ∅) × (h64 rows to delete) → updated
    blob row. Deletion is WHY the Bloom side counts: a plain bitset
    Bloom cannot forget, a counting one decrements; the cuckoo filter
    deletes its fingerprint. Recrawl uses this to re-admit exactly the
    revisited keys through the normal exactly-once machinery."""

    def remove(key, blob_pdf, dels_pdf):
        import numpy as np
        import pandas as pd

        from .seenset import CountingBloom, CuckooFilter

        if not len(blob_pdf):
            return pd.DataFrame(columns=["shard", "bloom", "cuckoo"])
        bloom = CountingBloom.from_bytes(bytes(blob_pdf["bloom"].iloc[0]))
        cuckoo = CuckooFilter.from_bytes(bytes(blob_pdf["cuckoo"].iloc[0]))
        hs = dels_pdf["h64"].to_numpy(dtype=np.int64).astype(np.uint64)
        bloom.remove_many(hs)
        for h in hs.tolist():
            cuckoo.remove(h)
        return pd.DataFrame(
            [{"shard": int(key[0]), "bloom": bloom.to_bytes(), "cuckoo": cuckoo.to_bytes()}]
        )

    return remove


def seenset_remove(seenset_df: DataFrame, dels: DataFrame, n_shards: int) -> DataFrame:
    """Delete an ``h64`` column from the shard-blob table (lazy): same
    co-partitioned cogroup shape as :func:`seenset_merge`."""
    keyed = dels.select("h64").withColumn("shard", _shard_col(n_shards))
    return (
        seenset_df.groupby("shard")
        .cogroup(keyed.groupby("shard"))
        .applyInPandas(_seenset_remove_fn(), schema=_SHARD_BLOB_SCHEMA)
    )


def _robots_batches(batches):
    """Robots 'fetch' for newly met hosts → cache rows (deterministic
    double; production swaps in an HTTP robots.txt fetch)."""
    import pandas as pd

    from .fixtures import robots_rules

    for pdf in batches:
        rules = [robots_rules(h) for h in pdf["host"]]
        yield pd.DataFrame(
            {
                "host": pdf["host"],
                "disallow": [r["disallow"] for r in rules],
                "crawl_delay_level": [r["crawl_delay_level"] for r in rules],
            }
        )


def extract_links(body: bytes) -> list[str]:
    """Anchor URLs of a fetched archive's index document — the
    real-crawl discovery path (the reference's collecting walk over
    the converted page, lib/convert.js:129-146): parse the MHTML,
    take the index document (already charset-decoded by the splitter
    cascade), resolve every <a href> against its Content-Location,
    keep the fetchable ones in document order, first occurrence wins.
    Runs inside the fetch UDF on bytes already in memory — no second
    pass over the corpus."""
    import urllib.parse

    from ..mime.dom import Element, parse_html
    from ..mime.splitter import parse_mhtml

    try:
        res = parse_mhtml(body)
    except Exception:
        return []
    index = next((part for part in res.parts if part.is_index), None)
    if index is None or not index.text:
        return []
    base = index.content_location or ""
    try:
        doc = parse_html(index.text)
    except Exception:
        return []
    out: list[str] = []
    seen_local: set[str] = set()
    stack = [doc]
    while stack:
        node = stack.pop()
        kids = getattr(node, "children", None) or []
        for child in reversed(kids):
            stack.append(child)
        if isinstance(node, Element) and node.tag == "a":
            href = node.get_attribute("href")
            if not href:
                continue
            try:
                absu = urllib.parse.urljoin(base, href)
            except Exception:
                continue
            if absu and is_fetchable(absu) and absu not in seen_local:
                seen_local.add(absu)
                out.append(absu)
    return out


def fetch_row(
    key: str,
    fetcher: str = "double",
    discover: str = "scripted",
    fanout: int = 3,
    n_hosts: int = 7,
    hold_ms: int = 0,
    stand_in=None,
) -> tuple[str, int, int, int, list[dict]]:
    """One URL's fetch work: fetch with retry/backoff, h64, the
    optional decode, discovery, and the children's canonical fields.
    It is the crawl's one per-URL fetch kernel: the batch fetch UDF
    (:func:`_fetch_batches`) runs it per manifest row and the streaming
    gate (``streaming/frontier.py``) per admitted key. ``stand_in``
    (unsigned h64 → MHTML body, see :func:`stand_in_pool`) turns the
    decode on: the real body is decoded when the fetch returned one,
    else the stand-in's synthesized archive. Returns ``(status,
    attempts, delay_ms, h64, children)``, ``h64`` signed so it fits
    LongType."""
    body = b""
    if fetcher == "http":
        from .httpclient import fetch_url_with_retries

        # the production seam: real sockets, same retry contract/code
        # as the double (frontier/httpclient.py)
        status, attempts, delay_ms, _ct, body = fetch_url_with_retries(key)
    else:
        status, attempts, delay_ms = fetch_with_retries(key)
    h64 = url_hash64(key)
    if hold_ms:
        # per-attempt service-time hold, the reference's own
        # benchmarking technique (test/concurrency.test.js:56-63)
        time.sleep(attempts * hold_ms / 1000.0)
    if stand_in is not None and status == "ok":
        from ..mime.splitter import parse_mhtml

        # the fetched body IS an MHTML archive: run the payload stage
        # inline (north-rule metric: URLs fetched+DECODED). With the
        # real client the REAL bytes are decoded; the double has no
        # body and decodes the stand-in
        parse_mhtml(body if fetcher == "http" and body else stand_in(h64))
    links: list[str] = []
    if discover == "parse" and status == "ok" and body:
        # real-crawl discovery: links come from the fetched bytes, not
        # the scripted children_of world
        links = extract_links(body)
    elif discover == "scripted" and status == "ok":
        # scripted discovery rides the same fetch pass (one Python stage
        # per round instead of two); eligibility filtering here
        # preserves document order, which is all the (parent_pos,
        # child_idx) contract needs
        links = [c for c in children_of(key, fanout, n_hosts) if is_fetchable(c)]
    # children leave the UDF canonical: the next round's frontier rows
    # need no Python pass of their own
    children = [dict(zip(_CHILD_FIELDS, (c, *canonical_fields(c)))) for c in links]
    signed = h64 - (1 << 64) if h64 >= 1 << 63 else h64
    return status, attempts, delay_ms, signed, children


# (task attempt id, payload_images, payload_scale) and its stand-in
_task_pool: tuple = (None, None)


def stand_in_pool(payload_images: int, payload_scale: int):
    """The decode's stand-in for a network body (unsigned h64 → MHTML
    archive): corpus synthesis, which production never pays, amortized
    over a pool of 64 distinct archives, ``h64 % 64``. The DECODE runs
    per URL, uncached; that is the measured work.

    The pool lives for ONE Spark task (``TaskContext.taskAttemptId()``),
    for the fetch UDF (one ``mapInPandas`` call per task) and the
    streaming gate (one call per host, many hosts per task) alike: a
    worker-lifetime pool would let later tasks and jobs reuse bodies
    earlier ones synthesized, speeding up the stand-in, not the engine.
    Outside a task (in-process callers) each call gets a fresh pool.
    Memory bound: a Python worker runs one task at a time and keeps only
    its latest task's pool, so 64 bodies × body size per worker (~0.96MB
    bodies at payload (8, 6): ≤ ~62MB per worker, ~185MB on 3 slots). A
    task holds at most min(64, its URLs) bodies."""
    global _task_pool
    from pyspark import TaskContext

    from ..sources.corpus import build_archive

    ctx = TaskContext.get()
    key = (ctx.taskAttemptId(), payload_images, payload_scale) if ctx else None
    if key is not None and _task_pool[0] == key:
        return _task_pool[1]
    build = functools.lru_cache(maxsize=64)(build_archive)

    def stand_in(h64):
        return build(h64 % 64, payload_images, payload_scale)

    if key is not None:
        _task_pool = (key, stand_in)
    return stand_in


def _fetch_batches(
    batches,
    decode_payload: bool = False,
    payload_images: int = 2,
    payload_scale: int = 1,
    **fetch_kw,
):
    """The fetch UDF: :func:`fetch_row` over every manifest row."""
    import pandas as pd

    stand_in = stand_in_pool(payload_images, payload_scale) if decode_payload else None
    cols = [
        "key", "host", "depth", "disc_seq", "pos", "status", "attempts",
        "delay_ms", "h64", "children",
    ]
    for pdf in batches:
        rows = [
            (key, host, int(depth), int(disc_seq), int(pos),
             *fetch_row(key, stand_in=stand_in, **fetch_kw))
            for key, host, depth, disc_seq, pos in zip(
                pdf["key"], pdf["host"], pdf["depth"], pdf["disc_seq"], pdf["pos"]
            )
        ]
        yield pd.DataFrame(rows, columns=cols)


def _host_side(df: DataFrame, n_rows: int) -> DataFrame:
    """A host-keyed join side as the crawl joins it: broadcast up to
    :data:`BROADCAST_MAX_ROWS` rows, a plain hash join on host above."""
    return df if n_rows > BROADCAST_MAX_ROWS else F.broadcast(df)


@dataclass
class SparkCrawlResult:
    order: list[dict] = field(default_factory=list)
    seen: set[str] = field(default_factory=set)
    failed: set[str] = field(default_factory=set)
    blocked: set[str] = field(default_factory=set)
    metrics: list[dict] = field(default_factory=list)
    snapshots: list[int] = field(default_factory=list)


def crawl_spark(
    spark: SparkSession,
    seeds: list[str],
    max_rounds: int = 6,
    host_budget: int = 8,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    collect_order: bool = False,
    decode_payload: bool = False,
    fanout: int = 3,
    n_hosts: int = 7,
    payload_images: int = 2,
    payload_scale: int = 1,
    hold_ms: int = 0,
    use_robots: bool = False,
    probe_threshold: int = 20_000,
    recrawl_budget: int = 0,
    max_recrawls: int = 1,
    debt_boost: bool = False,
    fetcher: str = "double",
    discover: str = "scripted",
) -> SparkCrawlResult:
    """Run the crawl to fixpoint (or ``max_rounds``); optionally
    checkpoint each round to ``checkpoint_dir`` and resume from the
    latest snapshot there.

    Sizes are module constants, read where they are used: the
    seen-set's :data:`SEEN_SHARDS`, :data:`SEEN_BLOOM_BITS` and
    :data:`SEEN_CUCKOO_BUCKETS` (sizing rule beside them),
    :data:`BROADCAST_MAX_ROWS` for the robots and debt joins,
    :data:`ROBOTS_FLATTEN_EVERY`, and indexing.DIST_INDEX_MIN_ROWS for
    every global index. ``fetcher="http"`` fetches with httpclient's
    default timeout."""
    if discover == "parse" and fetcher != "http":
        # the scripted double carries no body, so parse-discovery would
        # silently crawl nothing past the seeds
        raise ValueError('discover="parse" requires fetcher="http"')

    result = SparkCrawlResult()
    catalog = SnapshotCatalog(checkpoint_dir) if checkpoint_dir else None

    # seen carries (host, fetched_round) for the recrawl scheduler;
    # failed/blocked are permanent deny-lists and stay (key, h64)
    empty_seen = local_frame(spark, [], _SEEN_SCHEMA)
    empty_keys = local_frame(spark, [], "key string, h64 long")
    start_round = 0
    disc_total = 0
    # the injection budget must survive resume: a resumed crawl that
    # forgot its past injections would exceed max_recrawls and diverge
    # from both the oracle and the uninterrupted run
    recrawls_done = 0

    empty_robots = local_frame(
        spark, [], "host string, disallow string, crawl_delay_level int"
    )
    debt_df = empty_debt = local_frame(spark, [], "host string, debt long")
    seenset_df = local_frame(spark, [], _SHARD_BLOB_SCHEMA)
    # the snapshot's tables, for the write, resume and the reload after
    # each write; loading a table the snapshot lacks raises
    snap_tables = ["frontier", "seen", "failed", "order", "seenset"] + (
        ["robots", "blocked"] if use_robots else []) + (["debt"] if debt_boost else [])

    def load_snapshot(snap):
        t = {name: catalog.load_table(spark, snap, name) for name in snap_tables}
        return (t["frontier"], t["seen"], t["failed"], t["order"], t["seenset"],
                t.get("robots", empty_robots), t.get("blocked", empty_keys),
                t.get("debt", empty_debt))

    # seen keys fetched since the last blob merge (lazy union of
    # checkpointed per-round outputs): the hybrid filter is an
    # ACCELERATOR that only pays for itself once the probe actually
    # runs (seen_total >= probe_threshold), so folding every round's
    # adds into the shard blobs before that point is a pure
    # shuffle+checkpoint tax — one cogroup per round for nothing
    seen_pending = None
    if resume and catalog is not None and catalog.latest() is not None:
        manifest = catalog.latest()
        snap = manifest["snapshot_id"]
        (frontier, seen, failed, order_acc, seenset_df,
         robots_cache, blocked, debt_df) = load_snapshot(snap)
        start_round = manifest["round"] + 1
        disc_total = manifest["metrics"]["disc_total"]
        recrawls_done = int(manifest["metrics"]["recrawls_done"])
        result.metrics = manifest["metrics"]["rounds"]
        expected_frontier = frontier.count()
    else:
        rows = seed_rows(seeds)
        frontier = local_frame(spark, rows, _CANON_SCHEMA)
        # the driver built the seeds itself: no count() job
        disc_total = expected_frontier = len(rows)
        seen = empty_seen
        failed = empty_keys
        order_acc = local_frame(
            spark, [], "round int, pos long, url string, depth int, status string, attempts int"
        )
        robots_cache = empty_robots
        blocked = empty_keys

    # the politeness backlog (deferred rows) is carried between rounds
    # past admission: a row that cleared it once (dedup + seen prune +
    # robots) never re-pays it. At 10^10-URL scale a throttled host's
    # whole queue would otherwise recycle through the dedup shuffle,
    # the filter probe and the rules join on EVERY round —
    # O(backlog × rounds) admission work for rows whose verdict cannot
    # change (deferred keys cannot enter seen/failed/blocked while they
    # wait, and robots rules per host are immutable once cached).
    pend_cols = list(_CANON_COLS)
    if use_robots:
        pend_cols.append("crawl_delay_level")
    empty_pending = local_frame(
        spark, [], _CANON_SCHEMA + (", crawl_delay_level int" if use_robots else "")
    )
    pending = empty_pending
    n_pending = 0

    have_seen = start_round > 0
    seen_total = sum(m["fetched"] + m["blocked"] for m in result.metrics)
    n_par = max(spark.sparkContext.defaultParallelism, 4)
    robots_chain_len = 0
    n_debt_hosts = 0
    # resume: one count() seeds the incremental robots-host counter
    n_robots_hosts = robots_cache.count() if use_robots and start_round > 0 else 0

    for round_idx in range(start_round, max_rounds):
        # 0. recrawl injection: when the frontier drains with rounds
        #    left, re-enqueue each host's ``recrawl_budget`` stalest
        #    seen pages (plan_recrawl's manifest — per-host top-N, no
        #    global sort) at depth 0 with fresh disc_seq assigned in
        #    (host, rank) order. The revisited keys are REMOVED from
        #    the exact seen table AND the hybrid filter first — the
        #    counting-Bloom decrements, the cuckoo deletes its
        #    fingerprint (deletion is why the Bloom counts) — so the
        #    unchanged exactly-once machinery re-admits exactly them.
        #    The revisits number at most seen_total rows (hosts×budget
        #    can be huge at 10^7 hosts), so that bound picks the index
        #    path. A seen key is already canonical, so the revisit rows
        #    are built in the JVM from seen's own (key, h64, host) — no
        #    canonicalize pass.
        n_recrawled = 0
        if expected_frontier == 0 and recrawl_budget > 0 and recrawls_done < max_recrawls:
            revisits = plan_recrawl(
                seen.select("key", "host", "fetched_round"),
                host_budget=recrawl_budget,
                current_round=round_idx,
            ).join(seen.select("key", "h64"), "key")
            revisits, n_recrawled = index_rows(
                revisits, ["host", "rk"], "rseq", seen_total, start=disc_total
            )
            if n_recrawled is None:
                revisits = revisits.localCheckpoint(eager=True)
                n_recrawled = revisits.count()
            if n_recrawled:
                removed_h64 = revisits.select("h64")
                if seen_pending is not None:
                    # fold deferred adds first so the removal sees
                    # every key (stays lazy — the checkpoint below
                    # materializes merge+remove in one pass)
                    seenset_df = seenset_merge(
                        seenset_df, seen_pending, SEEN_SHARDS,
                        SEEN_BLOOM_BITS, SEEN_CUCKOO_BUCKETS,
                    )
                    seen_pending = None
                seenset_df = seenset_remove(
                    seenset_df, removed_h64, SEEN_SHARDS
                ).localCheckpoint(eager=True)
                seen = seen.join(
                    revisits.select("key"), "key", "left_anti"
                ).localCheckpoint(eager=True)
                frontier = revisits.select(
                    F.col("key").alias("url"),
                    F.lit(0).cast("int").alias("depth"),
                    F.col("rseq").cast("long").alias("disc_seq"),
                    "key",
                    "host",
                    host_rank_col(F.col("host")).alias("host_rank"),
                    "h64",
                )
                disc_total += n_recrawled
                expected_frontier = n_recrawled
                seen_total = max(0, seen_total - n_recrawled)
            recrawls_done += 1
        if expected_frontier == 0:
            break

        # 1. the fresh rows (seeds/discoveries/recrawls) are canonical
        #    from birth: the driver canonicalizes seeds, the fetch UDF
        #    its children, and recrawls reuse seen's columns — no round
        #    runs a canonicalize pass. The deferred backlog rejoins
        #    after the robots gate (step 4).

        # 2. within-round first-discovery dedup: deterministic min_by on
        #    the explicit disc_seq (never dropDuplicates — shuffle-order
        #    unstable). min_by aggregates map-side, so only one row per
        #    key reaches the shuffle — cheaper than a window sort at
        #    frontier scale.
        deduped = (
            frontier.groupBy("key")
            .agg(
                F.min_by(
                    F.struct("url", "depth", "disc_seq", "host", "host_rank", "h64"), "disc_seq"
                ).alias("first")
            )
            .select("first.url", "first.depth", "first.disc_seq", "key", "first.host", "first.host_rank", "first.h64")
        )

        # 3. seen/failed pruning: the sharded Bloom+cuckoo hybrid prunes
        #    (definitely-new URLs skip the anti-join entirely); the
        #    exact anti-join verifies the maybe-seen sliver, keeping the
        #    crawl false-positive-free. The probe co-partitions
        #    candidates with the shard blobs — nothing is broadcast.
        #    Below ``probe_threshold`` seen keys the filter accelerates
        #    nothing (the exact anti-join is already a small-table
        #    join), so the prune stage is skipped — the filter is an
        #    accelerator by contract, never the source of truth.
        if have_seen:
            seen_all = seen.select("key", "h64").unionByName(failed)
            if use_robots:
                seen_all = seen_all.unionByName(blocked)
            if seen_total >= probe_threshold:
                probed = seenset_probe(deduped, seenset_df, SEEN_SHARDS)
                definite_new = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
                maybe = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
                verified_new = maybe.join(seen_all.select("key"), "key", "left_anti")
                candidates = definite_new.unionByName(verified_new)
            else:
                candidates = deduped.join(seen_all.select("key"), "key", "left_anti")
        else:
            candidates = deduped
        if n_pending:
            # first-discovery vs the backlog is ONE anti-join: a
            # pending row's disc_seq is strictly smaller than any
            # fresh discovery's (the counter is monotone), so the
            # pending row always wins
            candidates = candidates.join(pending.select("key"), "key", "left_anti")

        # 4. robots gate: the cache table grows by the round's newly
        #    met hosts ('fetched' via the deterministic double), then a
        #    join classifies candidates; disallowed URLs go to the
        #    permanent blocked set. The cache grows with every host
        #    ever met, so the join takes the BROADCAST_MAX_ROWS rule
        #    (:func:`_host_side`).
        n_blocked = 0
        newly_blocked = None
        if use_robots:
            # the new-hosts count below and step 5's politeness
            # materialization BOTH consume the candidate pipeline; cut
            # it once (lazily — the count materializes it) so robots-on
            # rounds don't re-evaluate dedup + seen-prune + explode per
            # consumer. This was the dominant robots-on overhead after
            # the round-5 crawl-loop speedups shrank everything else.
            candidates = candidates.localCheckpoint(eager=False)
            new_hosts = (
                candidates.select("host").distinct().join(robots_cache, "host", "left_anti")
            )
            # materialize only the NEW hosts' rules (O(new), usually
            # tiny after round 1) and union them in lazily: the old
            # shape re-checkpointed the WHOLE cache every round — an
            # O(known-hosts) copy per round that dominated the
            # robots-on overhead. The union chain stays shallow
            # (one checkpointed piece per round) and snapshots flatten
            # it when checkpointing is on.
            # lazy checkpoint: the count right below materializes it
            fetched_rules = new_hosts.mapInPandas(
                _robots_batches, schema="host string, disallow string, crawl_delay_level int"
            ).localCheckpoint(eager=False)
            n_new_hosts = fetched_rules.count()
            if n_new_hosts:
                robots_cache = robots_cache.unionByName(fetched_rules)
                n_robots_hosts += n_new_hosts
                robots_chain_len += 1
                if robots_chain_len >= ROBOTS_FLATTEN_EVERY:
                    # bound the cache's lineage: the per-round shallow
                    # union (one checkpointed piece per round) keeps
                    # the steady-state cost O(new hosts), but with
                    # snapshots off a long crawl would deepen the plan
                    # linearly (r5 watch item). Folding the union into
                    # one lazy checkpoint every ROBOTS_FLATTEN_EVERY
                    # rounds caps plan depth at O(K) for an amortized
                    # O(hosts/K) copy per round — the next robots join
                    # materializes it in the job it already runs.
                    robots_cache = robots_cache.localCheckpoint(eager=False)
                    robots_chain_len = 0
            # the host counter is incremental — no per-round count()
            # over the cache
            robots_side = _host_side(robots_cache, n_robots_hosts)
            path = F.regexp_replace(F.col("key"), "^[a-zA-Z]+://[^/]+", "")
            allowed = F.col("disallow").isNull() | ~path.startswith(F.col("disallow"))
            # the allowed/blocked classification RIDES the round's one
            # politeness materialization (step 5's budgeted checkpoint
            # + bcounts agg) instead of paying its own checkpoint and
            # count jobs per round — the robots-on overhead was
            # dominated by those extra driver jobs, not by the join
            candidates = (
                candidates.join(robots_side, "host", "left")
                .withColumn("allowed", allowed)
                .drop("disallow")
            )
        if n_pending:
            # the backlog rejoins here, past the admission stages it
            # already cleared (allowed by construction; its immutable
            # crawl_delay_level rode along when it was deferred)
            candidates = candidates.unionByName(
                pending.withColumn("allowed", F.lit(True)) if use_robots else pending
            )

        # 5. priority + politeness: per-host budget window ordered by the
        #    explicit (depth, host_rank, disc_seq) priority keys,
        #    overflow deferred to next round; the global order over the
        #    same keys is step 6. Materialize ONCE — everything
        #    downstream (fetch manifest, deferred frontier, counts)
        #    derives from this single evaluation of the round pipeline.
        if debt_boost:
            # politeness-debt boost: hosts whose queue overflowed LAST
            # round get base + min(debt, base) this round (bounded 2x).
            # The debt table only holds overflowed hosts, so it is
            # usually broadcast. n_debt_hosts came out of LAST round's
            # politeness agg — no extra count() job (resume
            # conservatively broadcasts)
            candidates = candidates.join(_host_side(debt_df, n_debt_hosts), "host", "left")
        # blocked rows (allowed=false) ride the same exchange but rank
        # in their own window partition, so they never consume budget
        w_host = (
            Window.partitionBy("host", "allowed") if use_robots else Window.partitionBy("host")
        ).orderBy("depth", "host_rank", "disc_seq")
        budgeted = candidates.withColumn("host_pos", F.row_number().over(w_host))
        if use_robots:
            # token-bucket crawl delay: the robots crawl-delay level
            # scales each host's per-round refill
            budget_col = F.greatest(
                F.lit(1), F.floor(F.lit(host_budget) / (F.col("crawl_delay_level") + 1))
            )
        else:
            budget_col = F.lit(host_budget)
        if debt_boost:
            budget_col = budget_col + F.least(
                F.coalesce(F.col("debt"), F.lit(0)), budget_col
            )
        budgeted = budgeted.withColumn("token_budget", budget_col)
        # lazy: the bcounts agg right below materializes (and persists)
        # it in the same job; fetch_now/deferred then read the blocks
        budgeted = budgeted.localCheckpoint(eager=False)
        # ONE agg answers "is the frontier drained?", the deferred
        # count, the debt-host count AND (robots) the blocked count —
        # separate driver jobs otherwise
        allowed_col = F.col("allowed") if use_robots else F.lit(True)
        ok_rows = allowed_col
        bcounts = budgeted.agg(
            F.sum(ok_rows.cast("long")).alias("n"),
            F.sum(
                (ok_rows & (F.col("host_pos") <= F.col("token_budget"))).cast("long")
            ).alias("fetchable"),
            F.count_distinct(
                F.when(
                    ok_rows & (F.col("host_pos") > F.col("token_budget")), F.col("host")
                )
            ).alias("debt_hosts"),
            F.sum((~ok_rows).cast("long")).alias("blocked"),
        ).collect()[0]
        n_debt_hosts = int(bcounts["debt_hosts"] or 0)
        n_blocked = int(bcounts["blocked"] or 0)
        if use_robots and n_blocked:
            newly_blocked = budgeted.filter(~F.col("allowed")).select("key", "h64")
            blocked = blocked.unionByName(newly_blocked)
        if int(bcounts["n"] or 0) == 0:
            # zero-fetch round (every frontier row deduped away): no
            # metrics row, same as the oracle — the next iteration
            # either injects a recrawl or terminates at the top break
            expected_frontier = 0
            # debt_df deliberately NOT recomputed on this path: the
            # oracle updates debt only when candidates exist, and an
            # empty-round overwrite would clear a nonzero backlog
            continue
        if debt_boost:
            # next round's debt = this round's per-host overflow counts
            # (computed after the zero-candidate exit so the control
            # flow matches the oracle's `if not candidates: continue`)
            debt_df = (
                budgeted.filter(ok_rows & (F.col("host_pos") > F.col("token_budget")))
                .groupBy("host")
                .agg(F.count("*").alias("debt"))
                .localCheckpoint(eager=True)
            )
        n_deferred = int(bcounts["n"]) - int(bcounts["fetchable"] or 0)
        fetch_now = budgeted.filter(ok_rows & (F.col("host_pos") <= F.col("token_budget")))
        deferred = budgeted.filter(
            ok_rows & (F.col("host_pos") > F.col("token_budget"))
        ).select(*pend_cols)

        # 6. global fetch position (ordering contract) over (depth,
        #    host_rank, disc_seq); the manifest's exact row count from
        #    the agg above picks the index path (same logical order
        #    either way; tests force both paths against the oracle).
        n_fetchable = int(bcounts["fetchable"] or 0)
        manifest_df, _ = index_rows(
            fetch_now.select("key", "host", "depth", "host_rank", "disc_seq"),
            ["depth", "host_rank", "disc_seq"],
            "pos",
            n_fetchable,
        )

        # 7. fetch (scripted double, retry/backoff inside the UDF) —
        #    repartition the manifest so the politeness-bounded fetch
        #    set spreads across every core, then materialize once
        fetch_fn = functools.partial(
            _fetch_batches,
            decode_payload=decode_payload,
            payload_images=payload_images,
            payload_scale=payload_scale,
            hold_ms=hold_ms,
            fetcher=fetcher,
            discover=discover,
            fanout=fanout,
            n_hosts=n_hosts,
        )
        # Fetch partitioning runs in WHOLE WAVES of the session's slots.
        # Two opposing costs: the straggler tail of the stage is
        # O(task size) (hold+decode are per-row costs), so finer tasks
        # bound it tighter — but every mapInPandas task pays a fixed
        # ~65ms of slot time before its UDF runs (worker hand-off, UDF
        # unpickling, the Arrow round trip; scripts/python_task_cost.py
        # measures it). It was ~300ms while pyspark's per-task
        # importlib.invalidate_caches() made each of the worker's 16
        # zipimporters re-read its archive on Python 3.11; importing
        # the package installs _zipcache, which skips unchanged ones.
        # A decoded fetch costs ~33ms per row (19ms body synthesis +
        # 14ms parse_mhtml), so at _FETCH_ROWS_PER_TASK = 256 a full
        # task carries ~8.4s of rows against ~0.07s fixed (<1%); at the
        # old 24 rows it was ~8%. A partial wave is the worst case of
        # both: 4 tasks on 3 slots run a second wave of ONE task that
        # pays the fixed cost again on the critical path. Policy:
        # slots × waves tasks, waves = ⌈n / (slots · rows per task)⌉
        # clamped to [1, 8] — at toy rounds one wave of fat tasks; at
        # 10^10-URL rounds the cap binds and the behavior is the old
        # fine-wave insurance. Round-robin dealing (below) keeps every
        # task within ±1 row of the others, so fatter tasks add no
        # straggler tail.
        n_slots = spark.sparkContext.defaultParallelism
        waves = min(8, max(1, -(-n_fetchable // (n_slots * _FETCH_ROWS_PER_TASK))))
        n_fetch_parts = n_slots * waves
        # Distribution WITHIN the stage: keyless ROUND-ROBIN, not hash
        # and (since r6) not range. Hash placement is binomial — at
        # ~100 rows/task the row count swings ±10% and the slowest
        # task sets the stage tail (~5s of the 32-core wall at 36k
        # URLs; the round-5 fix). Range-striping on pos fixed that but
        # paid a per-round SAMPLING JOB over the manifest
        # (repartitionByRange bounds come from a sample pass) — ~0.4s
        # of the 3-round bench. Round-robin gives the identical
        # equal-rows-per-task property (each parent partition deals
        # its rows cyclically, so every task holds total/n ±1) with no
        # sampling pass; the mandatory local sort-before-repartition
        # (SPARK-23207, retry determinism) is over the slim manifest
        # rows only. Per-row costs (attempts, decode) are uncorrelated
        # with placement, so task times still concentrate; fetch
        # results carry explicit pos, so placement never affects the
        # ordering contract (parity suites pin it byte-for-byte).
        fetched = (
            manifest_df.select("key", "host", "depth", "disc_seq", "pos")
            .repartition(n_fetch_parts)
            .mapInPandas(fetch_fn, schema=_FETCH_SCHEMA)
        )
        # lazy: the stats agg below is the first action over the
        # fetched rows — it materializes the checkpoint in the SAME
        # job it runs in (an eager checkpoint would be a whole extra
        # driver job per round; job latency is width-independent, so
        # saved jobs raise N-vs-4N efficiency directly)
        fetched = fetched.localCheckpoint(eager=False)
        if n_fetch_parts > n_par:
            # The fine wave partitioning exists for the fetch stage
            # only; the ~dozen downstream jobs that re-read the slim
            # checkpoint each round (children explode, seen update,
            # metrics agg, ...) would inherit all n_fetch_parts
            # partitions and pay a fixed per-task cost apiece — at 4N
            # width that overhead is WIDTH-INDEPENDENT (~same seconds
            # at 8 and 32 cores), which is exactly what caps scaling
            # efficiency. coalesce is narrow (no shuffle, no extra
            # stage): each downstream task just reads several
            # checkpoint blocks.
            fetched = fetched.coalesce(n_par)

        # 8. round metrics: this agg is the ACTION that materializes
        #    the lazy fetch checkpoint — fetch stage + counter fold run
        #    as one driver job, and n_children rides along: it is the
        #    exact discovery count, so step 9 pays no count job
        stats = fetched.agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("ok"),
            F.sum("attempts").alias("attempts"),
            F.sum("delay_ms").alias("delay_ms"),
            F.sum(F.size("children")).alias("n_children"),
        ).collect()[0]
        n_fetched = int(stats["n"] or 0)
        n_ok = int(stats["ok"] or 0)

        # 9. link discovery from ok fetches; disc_seq continues the
        #    global counter in (parent_pos, child_idx) order, indexed
        #    like step 6 (fanout×fetched rows is the bigger of the two
        #    per-round orderings). Only ok rows carry children, so the
        #    stats agg's n_children is the exact posexplode row count
        #    and picks the index path. Children — parsed
        #    from the fetched bodies or scripted, both already
        #    eligibility-filtered in document order — are emitted by
        #    the fetch UDF itself, canonical: one JVM-side posexplode,
        #    never a second Python pass over the round.
        ok = fetched.filter(F.col("status") == "ok")
        children = ok.select(
            "pos", "depth", F.posexplode("children").alias("child_idx", "c")
        ).select(
            F.col("pos").alias("parent_pos"),
            F.col("child_idx").cast("int").alias("child_idx"),
            (F.col("depth") + 1).cast("int").alias("depth"),
            *(F.col(f"c.{f}").alias(f) for f in _CHILD_FIELDS),
        )
        n_discovered = int(stats["n_children"] or 0)
        discovered, _ = index_rows(
            children, ["parent_pos", "child_idx"], "disc_seq", n_discovered, start=disc_total
        )
        discovered = discovered.select(*_CANON_COLS)

        # 10. state updates — all distributed: the hybrid seen-set via
        #    a per-shard cogroup fold (one task per shard, work = blob
        #    + its adds); no per-row collect anywhere
        new_seen = ok.select(
            "key", "h64", "host", F.lit(round_idx).cast("int").alias("fetched_round")
        )
        new_failed = fetched.filter(F.col("status") != "ok").select("key", "h64")
        seen = seen.unionByName(new_seen)
        failed = failed.unionByName(new_failed)
        seen_adds = fetched.select("h64")
        if use_robots and n_blocked:
            seen_adds = seen_adds.unionByName(newly_blocked.select("h64"))
        seen_pending = (
            seen_adds
            if seen_pending is None
            else seen_pending.unionByName(seen_adds)
        )
        seen_total += n_fetched + n_blocked
        if seen_total >= probe_threshold or catalog is not None:
            # the next round WILL probe (or a snapshot must carry a
            # consistent filter): fold everything pending in ONE
            # cogroup pass and cut lineage. Below the threshold the
            # pending union just rides along — the probe gate at step
            # 3 shares this exact seen_total condition, so a probe can
            # never observe an unfolded filter
            # lazy: the next round's probe (or the snapshot write) is
            # the first consumer and materializes the fold then; an
            # eager job here would serialize every shard blob twice
            seenset_df = seenset_merge(
                seenset_df, seen_pending, SEEN_SHARDS, SEEN_BLOOM_BITS,
                SEEN_CUCKOO_BUCKETS,
            ).localCheckpoint(eager=False)
            seen_pending = None
        have_seen = True

        round_order = fetched.select(
            F.lit(round_idx).alias("round"),
            "pos",
            F.col("key").alias("url"),
            "depth",
            "status",
            "attempts",
        )
        order_acc = order_acc.unionByName(round_order)

        disc_total += n_discovered
        expected_frontier = n_deferred + n_discovered
        round_metrics = {
            "round": round_idx,
            "fetched": n_fetched,
            "ok": n_ok,
            "failed": n_fetched - n_ok,
            "attempts": int(stats["attempts"] or 0),
            "deferred": n_deferred,
            "blocked": n_blocked,
            "virtual_delay_ms": int(stats["delay_ms"] or 0),
            "recrawled": n_recrawled,
        }
        result.metrics.append(round_metrics)

        # fresh rows next round = discoveries only; the deferred
        # backlog stays canonical in `pending`
        frontier = discovered
        pending = deferred
        n_pending = n_deferred

        # 11. checkpoint: snapshot cuts lineage AND makes the crawl
        #     resumable with per-partition manifest lineage; the hybrid
        #     seen-set rides along as ordinary binary rows (one per
        #     shard), so resume never rebuilds it. Without a catalog,
        #     `budgeted`/`fetched` are already materialized so the next
        #     round's lineage stays one round deep.
        if catalog is not None:
            tables = {
                # the snapshot frontier holds canonical rows (fresh ∪
                # backlog), so a resumed or reloaded round never
                # re-canonicalizes; backlog rows re-run admission once
                # on reload — deterministic, so resume stays byte-exact
                "frontier": frontier.unionByName(pending.select(*_CANON_COLS)),
                "seen": seen,
                "failed": failed,
                "order": order_acc,
                "seenset": seenset_df,
                "robots": robots_cache,
                "blocked": blocked,
                "debt": debt_df,
            }
            snap = catalog.write_snapshot(
                {name: tables[name] for name in snap_tables},
                metrics={
                    "rounds": result.metrics,
                    "disc_total": disc_total,
                    "recrawls_done": recrawls_done,
                    **round_metrics,
                },
                round_idx=round_idx,
            )
            result.snapshots.append(snap)
            (frontier, seen, failed, order_acc, seenset_df,
             robots_cache, blocked, debt_df) = load_snapshot(snap)
            pending = empty_pending
            n_pending = 0

    if collect_order:
        for row in order_acc.orderBy("round", "pos").collect():
            result.order.append(
                {
                    "round": row["round"],
                    "pos": row["pos"],
                    "url": row["url"],
                    "depth": row["depth"],
                    "status": row["status"],
                    "attempts": row["attempts"],
                }
            )
        result.seen = {r["key"] for r in seen.select("key").collect()}
        result.failed = {r["key"] for r in failed.select("key").collect()}
        if use_robots:
            result.blocked = {r["key"] for r in blocked.select("key").collect()}
    return result


def plan_recrawl(
    seen: DataFrame, host_budget: int = 3, current_round: int | None = None
) -> DataFrame:
    """Recrawl manifest: given the seen table (key, host,
    fetched_round), pick each host's ``host_budget`` stalest pages for
    revisit — (key, host, fetched_round, age, rk) ordered oldest-first
    per host, ties by key (reference fetch order is deterministic;
    revisit order must be too).

    Shape at scale: one hash-partitioned per-host window whose rank
    filter Spark rewrites to a per-partition top-N (window group
    limit) — no host's full history is sorted beyond the budget, and
    there is no global sort anywhere. ``current_round`` defaults to
    max(fetched_round)+1 computed as a broadcast scalar."""
    from pyspark.sql import Window

    if current_round is None:
        now = seen.agg((F.max("fetched_round") + 1).alias("_now"))
        aged = seen.crossJoin(F.broadcast(now))
    else:
        aged = seen.withColumn("_now", F.lit(int(current_round)))
    w = Window.partitionBy("host").orderBy(F.col("fetched_round").asc(), F.col("key").asc())
    return (
        aged.withColumn("age", (F.col("_now") - F.col("fetched_round")).cast("long"))
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= host_budget)
        .select("key", "host", F.col("fetched_round").cast("long").alias("fetched_round"), "age", "rk")
    )
