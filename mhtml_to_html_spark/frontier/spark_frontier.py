"""Distributed URL frontier: driver fixpoint loop over DataFrames.

Each round (the Spark shape of SURVEY.md §3.3) is one host-keyed Spark
stage between cheap JVM steps; every step runs under the job group
``crawl:r<round>:<step>``:

    recrawl   [drained? stalest-per-host revisits re-enter; their keys
               DELETED from the done table + hybrid filter]
    prune     canonical frontier rows (the deferred backlog ∪ the
              discoveries) ──sharded bloom+cuckoo probe (at
              probe_threshold done keys) + exact anti-join against the
              done table's keys──robots-cache (+ debt) join on host──▶
              candidates
    kernel    repartition(n, host).sortWithinPartitions(host)
              .mapInPandas(:func:`_round_kernel`): per Arrow batch, one
              dedup (min disc_seq) and sort (:func:`_admission_rows`),
              then per host run :func:`_admit_host_batch`: robots
              (cached rules, or fetched for a first-met host and
              emitted as a cache row) → token budget (+ opt-in debt
              boost) → :func:`fetch_row` per admitted key. Out: ok/failed
              rows with canonical children, deferred, blocked, robots
              and debt rows, in one eager checkpoint whose job also
              observes the round's counters
    index     global fetch position over (depth, host_rank, disc_seq)
    discover  the next frontier (:func:`next_frontier`, shared with the
              streaming feeder): the deferred backlog ∪ the
              posexploded children; disc_seq continues the global
              counter in (parent fetch order, document order)
    commit    done/robots/debt unions, seen-set fold, snapshot;
              repeat.

Determinism contract: every "first" and every position is derived from
explicit columns (depth, host_rank, disc_seq) — the pure-Python oracle
(oracle.py) replays the same semantics and the outputs must match
byte-for-byte (tests/test_frontier.py).

Scale notes (no single-partition exchange, no driver-held state):
- the crawl's state is ONE key table, ``done`` (key, h64, host,
  fetched_round, status ∈ ok/failed/blocked), one union piece per
  round; the seen-set filters below accelerate the prune against it;
- the seen-set is the north_rule's partitioned counting-Bloom +
  cuckoo-filter hybrid, kept as a DataFrame of shard-blob rows
  (seenset.py structures serialized per shard). Updates fold new keys
  into their shard via cogroup-applyInPandas (one task per shard);
  probes co-partition candidates with their shard's blob the same way
  — the filter is never broadcast, never driver-held, and rides
  snapshots as ordinary binary rows, so 10^10-key sizing (~10 GiB of
  filter) never needs one machine. The done table stays the
  source of truth: a filter false positive never drops a URL (exact
  anti-join verifies the maybe-seen sliver), and because neither
  structure has false negatives, a seen URL is never refetched;
- the per-host politeness scheduler is one host-sorted pandas stage:
  the host exchange is the round's only shuffle of candidate rows, the
  Python side pays its pandas and Arrow work once per batch, not once
  per host, and no host state grows per URL (a host brings its round's
  candidates, one robots cache row and one debt row);
- global fetch positions, discovery sequence numbers and recrawl
  sequence numbers come from indexing.index_rows: the two-pass
  zipWithIndex index over range-partitioned data once the rows to
  index reach indexing.DIST_INDEX_MIN_ROWS, one window task below it.
  Both paths produce the identical logical order and both are pinned
  to the oracle by tests;
- per-round counters are observed on the kernel's checkpoint job;
  nothing per-row ever reaches the driver (the test-contract order
  collection at the very end is the only exception, and
  ``collect_order=False`` turns it off);
- driver-side frames (seeds, empty state tables) are Arrow-built JVM
  ``LocalRelation``s (:func:`local_frame`), so empty state is pruned
  from unions and anti-joins by the optimizer and no scan runs Python;
- frontier rows are canonical from birth (:func:`canonical_fields` on
  the driver's seeds and on :func:`fetch_row`'s children; recrawls
  reuse done's columns; snapshots store them), so no round runs a
  canonicalize pass, and the kernel stage runs in whole waves of the
  session's slots, since each Python task pays a fixed ~65ms of slot
  time before its UDF runs: a round below slots × 256 candidates runs
  one kernel task per slot and no other Python task.

Under adaptive execution, ``localCheckpoint`` runs every shuffle stage
of its plan when it is called, lazy or not (``AdaptiveSparkPlanExec``
finalizes the plan on ``execute()``): a lazy checkpoint defers only its
last stage to the first action. Those jobs run under the job group of
the step that calls the checkpoint.
"""

from __future__ import annotations

import functools
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..plans.catalog import SnapshotCatalog
from ..urlnorm import canonicalize_url, is_fetchable, url_host
from .fixtures import (
    children_of,
    fetch_with_retries,
    host_rank,
    host_rank_col,
    robots_rules,
    rules_allow,
    token_budget,
)
from .indexing import index_rows
from .seenset import url_hash64

# a frontier row is canonical from birth: (url, depth, disc_seq) plus
# the canonical fields of :func:`canonical_fields`
_CANON_FIELDS = "key string, host string, host_rank int, h64 long"
_CANON_SCHEMA = f"url string, depth int, disc_seq long, {_CANON_FIELDS}"
_CANON_COLS = ["url", "depth", "disc_seq", "key", "host", "host_rank", "h64"]
# field positions in the canonical tuples :func:`_admission_rows` returns
_KEY_AT, _HOST_AT, _H64_AT = (_CANON_COLS.index(c) for c in ("key", "host", "h64"))
_CHILD_FIELDS = ("url", "key", "host", "host_rank", "h64")
# the children :func:`fetch_row` emits
_CHILDREN_TYPE = f"array<struct<url string, {_CANON_FIELDS}>>"
# :func:`_admit_host_batch`'s rows: the canonical row plus its verdict
# (ok, failed, deferred or blocked) and fetch result; both crawls emit
# them (the streaming gate as its output rows)
_ADMIT_SCHEMA = (
    f"{_CANON_SCHEMA}, status string, attempts int, delay_ms long, "
    f"children {_CHILDREN_TYPE}"
)
_ADMIT_COLS = _CANON_COLS + ["status", "attempts", "delay_ms", "children"]
# the batch round kernel's rows: admission rows plus one host-state row
# kind each for a first-met host's robots rules (status 'robots') and a
# host's overflow count (status 'debt', debt_boost only)
_KERNEL_SCHEMA = f"{_ADMIT_SCHEMA}, disallow string, crawl_delay_level int, debt long"
_KERNEL_COLS = _ADMIT_COLS + ["disallow", "crawl_delay_level", "debt"]
# the total order discovered children are numbered in: parent fetch
# order (depth, host_rank, disc_seq — the order ``pos`` ranks), then
# document order
_CHILD_ORDER = ["p_depth", "p_rank", "p_seq", "child_idx"]
# the crawl's one state table: every key fetched (ok or failed) or
# blocked, with the round it was met in (the recrawl scheduler ages ok
# rows by it)
_DONE_SCHEMA = "key string, h64 long, host string, fetched_round int, status string"
_SHARD_BLOB_SCHEMA = "shard int, bloom binary, cuckoo binary"
# kernel-stage task size target (the wave count; sizing rule at the
# kernel step). Set when a Python task's fixed cost was ~300ms;
# retuning it for the ~65ms the package's _zipcache leaves is still open.
_KERNEL_ROWS_PER_TASK = 256
# The most rows a join side may have and still be broadcast: the robots
# cache and the debt table (both grow with the hosts met) and the done
# table's keys in the prune's anti-join. Above it they take a
# plain hash join (at 10^7-10^8 hosts a forced broadcast is a multi-GB
# executor OOM). The crawl knows each side's row count, so it decides
# up front: a checkpointed side has no size estimate, and AQE would
# otherwise run both sides' shuffles before switching to a broadcast.
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
# the local properties a job group sets; crawl_spark restores the
# caller's values on return
_JOB_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


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
        hit_idx = np.flatnonzero(maybe)
        maybe[hit_idx] = cuckoo.contains_many(hs[hit_idx])
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
    It is the crawl's one per-URL fetch kernel: :func:`_admit_host_batch`
    runs it per admitted key, for the batch round kernel and the
    streaming gate alike. ``stand_in``
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
    for the batch round kernel (one call per task) and the streaming
    gate (one call per host, many hosts per task) alike: a
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


def _admission_rows(pdf) -> list[tuple]:
    """Canonical rows (a pandas frame with ``_CANON_COLS``, any number
    of hosts) as the tuples :func:`_admit_host_batch` walks: deduped
    (the minimum ``disc_seq`` of a key wins, so a deferred backlog row
    beats any later rediscovery of its key; a key fixes its host) and
    in (host, depth, host_rank, disc_seq) order, so each host is one run
    of tuples in fetch-priority order. The batch round kernel runs it
    once per Arrow batch, the streaming gate once per host and
    micro-batch."""
    if pdf["key"].duplicated().any():
        pdf = pdf.sort_values("disc_seq").drop_duplicates("key")
    pdf = pdf.sort_values(["host", "depth", "host_rank", "disc_seq"])
    return list(zip(*(pdf[c].tolist() for c in _CANON_COLS)))


def _admit_host_batch(
    rows: list[tuple], seen: set, host_budget: int, rules: dict | None = None, debt: int = 0,
    **fetch_kw,
) -> list[tuple]:
    """The admission core both crawls run, on one host's rows as
    :func:`_admission_rows` returns them (deduped, in (depth, host_rank,
    disc_seq) order): the batch round kernel (:func:`_round_kernel`)
    once per host run of an Arrow batch, the streaming politeness gate
    once per host and micro-batch. In order:

    - seen: a key whose unsigned h64 is in ``seen`` is dropped, and
      admitted and blocked keys join it (the gate's all-time per-host
      set; the batch crawl prunes seen keys upstream and passes an
      empty set);
    - robots: with ``rules`` (a robots cache row: ``disallow``,
      ``crawl_delay_level``) a disallowed key is ``blocked`` once and
      the level scales the token budget;
    - budget: plus ``min(debt, budget)``, the opt-in debt boost (≤ 2×);
    - fetch: in row order, up to the budget, each through
      ``fetch_row(key, **fetch_kw)``; the rest is ``deferred``.

    Returns the output rows (``_ADMIT_COLS``); only fetched rows carry
    children."""
    budget = host_budget if rules is None else token_budget(host_budget, rules["crawl_delay_level"])
    budget += min(debt, budget)
    out = []
    admitted = 0
    for r in rows:
        h = r[_H64_AT] & 0xFFFFFFFFFFFFFFFF
        if h in seen:
            continue  # exactly-once across the whole stream
        if rules is not None and not rules_allow(rules["disallow"], r[_KEY_AT]):
            seen.add(h)  # permanently blocked — reported exactly once
            out.append((*r, "blocked", 0, 0, []))
        elif admitted < budget:
            status, attempts, delay_ms, _h64, children = fetch_row(r[_KEY_AT], **fetch_kw)
            seen.add(h)
            admitted += 1
            out.append((*r, status, attempts, delay_ms, children))
        else:
            out.append((*r, "deferred", 0, 0, []))
    return out


def _host_state_row(host: str, status: str, disallow=None, crawl_delay_level=0, debt=0):
    """A kernel row (``_KERNEL_COLS``) that carries host state, not a
    URL: numeric placeholders are 0, never None, so pandas keeps every
    int column int64 (a None would turn h64 into float64 and round it)."""
    row = dict.fromkeys(_KERNEL_COLS, 0) | {
        "url": None, "key": None, "children": None, "host": host, "status": status,
        "disallow": disallow, "crawl_delay_level": crawl_delay_level, "debt": debt,
    }
    return tuple(row[c] for c in _KERNEL_COLS)


def _round_kernel(
    host_budget: int,
    use_robots: bool,
    debt_boost: bool,
    decode_payload: bool,
    payload_images: int,
    payload_scale: int,
    **fetch_kw,
):
    """The round kernel's ``mapInPandas`` function, bound to the crawl's
    settings. Its partition arrives sorted by host, each candidate row
    with the host's robots cache row joined on (``disallow``,
    ``crawl_delay_level``; a null level means the host is met for the
    first time) and, with ``debt_boost``, last round's overflow count
    (``debt``). Per Arrow batch it runs :func:`_admission_rows` once,
    then :func:`_admit_host_batch` on each host's run of tuples, and
    emits one frame. A first-met host's rules come from
    ``robots_rules`` (deterministic double; production swaps in an HTTP
    robots.txt fetch) and leave as a ``robots`` row for the cache; with
    ``debt_boost`` a host that defers rows leaves a ``debt`` row. An
    Arrow batch may end inside a host's run, so the batch's last host
    carries into the next batch, and the last carry is finished after
    the partition's last batch. Rows are ``_KERNEL_COLS``."""
    status_at = _ADMIT_COLS.index("status")
    state_cols = (["disallow", "crawl_delay_level"] if use_robots else []) + (
        ["debt"] if debt_boost else [])

    def admit(pdf, stand_in):
        import pandas as pd

        firsts = pdf.drop_duplicates("host")
        state = {c: dict(zip(firsts["host"].tolist(), firsts[c].tolist())) for c in state_cols}
        rows = _admission_rows(pdf)
        out = []
        start, n = 0, len(rows)
        while start < n:
            host = rows[start][_HOST_AT]
            end = start + 1
            while end < n and rows[end][_HOST_AT] == host:
                end += 1
            rules = None
            host_state = []
            if use_robots:
                level = state["crawl_delay_level"][host]
                if pd.isna(level):
                    rules = robots_rules(host)
                    host_state.append(_host_state_row(host, "robots", **rules))
                else:
                    disallow = state["disallow"][host]
                    rules = {
                        "disallow": None if pd.isna(disallow) else disallow,
                        "crawl_delay_level": int(level),
                    }
            debt = 0
            if debt_boost and not pd.isna(state["debt"][host]):
                debt = int(state["debt"][host])
            admitted = _admit_host_batch(
                rows[start:end], set(), host_budget, rules, debt, stand_in=stand_in, **fetch_kw
            )
            out.extend((*r, None, 0, 0) for r in admitted)
            n_deferred = sum(r[status_at] == "deferred" for r in admitted)
            if debt_boost and n_deferred:
                host_state.append(_host_state_row(host, "debt", debt=n_deferred))
            out.extend(host_state)
            start = end
        return pd.DataFrame(out, columns=_KERNEL_COLS)

    def round_kernel(batches):
        import numpy as np
        import pandas as pd

        stand_in = stand_in_pool(payload_images, payload_scale) if decode_payload else None
        carry = []  # frames of one host whose run may go on in the next batch
        for pdf in batches:
            if pdf.empty:
                continue
            hosts = pdf["host"].to_numpy()
            # where the batch's last host run starts
            other = np.flatnonzero(hosts != hosts[-1])
            cut = int(other[-1]) + 1 if len(other) else 0
            if cut == 0 and carry and carry[0]["host"].iat[0] == hosts[0]:
                carry.append(pdf)
                continue
            done = carry + [pdf.iloc[:cut]]
            carry = [pdf.iloc[cut:]]
            done = pd.concat(done, ignore_index=True) if len(done) > 1 else done[0]
            if len(done):
                yield admit(done, stand_in)
        if carry:
            yield admit(pd.concat(carry, ignore_index=True), stand_in)

    return round_kernel


def _kernel_counters() -> list:
    """The round's counters over its admission rows: observed on the
    job that checkpoints the batch kernel's rows, and on the streaming
    gate's micro-batch (whose rows carry no robots or debt status, so
    those two count 0)."""
    status = F.col("status")

    def n(*statuses):
        return F.sum(status.isin(*statuses).cast("long"))

    return [
        n("ok", "failed").alias("fetched"),
        n("ok").alias("ok"),
        n("deferred").alias("deferred"),
        n("blocked").alias("blocked"),
        n("robots").alias("robots"),
        n("debt").alias("debt"),
        F.sum("attempts").alias("attempts"),
        F.sum("delay_ms").alias("delay_ms"),
        F.sum(F.when(status == "ok", F.size("children"))).alias("children"),
    ]


def round_metrics(round_idx: int, c: dict, n_recrawled: int = 0) -> dict | None:
    """The oracle's metrics row of a round from its counters ``c``
    (:func:`_kernel_counters`), or None for a zero-fetch round (every
    row deduped away or blocked: nothing fetched or deferred), which
    the oracle reports no row for. Both crawls report through it."""
    if c["fetched"] + c["deferred"] == 0:
        return None
    return {
        "round": round_idx,
        "fetched": c["fetched"],
        "ok": c["ok"],
        "failed": c["fetched"] - c["ok"],
        "attempts": c["attempts"],
        "deferred": c["deferred"],
        "blocked": c["blocked"],
        "virtual_delay_ms": c["delay_ms"],
        "recrawled": n_recrawled,
    }


def next_frontier(admitted: DataFrame, c: dict, start: int) -> DataFrame:
    """The next round's canonical rows (``_CANON_COLS``), the oracle's
    rule: the deferred backlog ∪ the children ``fetch_row`` emitted on
    the ok rows of ``admitted`` (a round's admission rows, counted by
    ``c``), at depth + 1. A deferred key is never done, so the prune
    keeps it, and its disc_seq is below any rediscovery's, so the
    admission dedup keeps it over them. The children take one JVM-side
    posexplode, never a second Python pass; their ``disc_seq``
    continues the crawl-global counter from ``start`` in (parent fetch
    order, document order), :data:`_CHILD_ORDER`, indexed by
    ``index_rows`` with the observed children count picking the path.
    Both crawls build their next round through it; it has
    ``c["deferred"] + c["children"]`` rows."""
    status = F.col("status")
    children = admitted.filter(status == "ok").select(
        F.col("depth").alias("p_depth"),
        F.col("host_rank").alias("p_rank"),
        F.col("disc_seq").alias("p_seq"),
        F.posexplode("children").alias("child_idx", "c"),
        (F.col("depth") + 1).cast("int").alias("depth"),
    ).select(*_CHILD_ORDER, "depth", *(F.col(f"c.{f}").alias(f) for f in _CHILD_FIELDS))
    discovered, _ = index_rows(children, _CHILD_ORDER, "disc_seq", c["children"], start=start)
    deferred = admitted.filter(status == "deferred").select(*_CANON_COLS)
    return deferred.unionByName(discovered.select(*_CANON_COLS))


def _join_side(df: DataFrame, n_rows: int) -> DataFrame:
    """A join side of ``n_rows`` rows as the crawl joins it: broadcast up
    to :data:`BROADCAST_MAX_ROWS` rows, a plain hash join above."""
    return df if n_rows > BROADCAST_MAX_ROWS else F.broadcast(df)


def _restores_job_group(fn):
    """Run ``fn(spark, ...)`` and then restore the caller's job group,
    which ``fn`` sets per step."""

    @functools.wraps(fn)
    def run(spark: SparkSession, *args, **kw):
        sc = spark.sparkContext
        saved = [sc.getLocalProperty(k) for k in _JOB_GROUP_PROPS]
        try:
            return fn(spark, *args, **kw)
        finally:
            for k, v in zip(_JOB_GROUP_PROPS, saved):
                sc.setLocalProperty(k, v)

    return run


@dataclass
class SparkCrawlResult:
    order: list[dict] = field(default_factory=list)
    seen: set[str] = field(default_factory=set)
    failed: set[str] = field(default_factory=set)
    blocked: set[str] = field(default_factory=set)
    metrics: list[dict] = field(default_factory=list)
    snapshots: list[int] = field(default_factory=list)


@_restores_job_group
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
    :data:`BROADCAST_MAX_ROWS` for the done, robots and debt joins, and
    indexing.DIST_INDEX_MIN_ROWS for every global index.
    ``fetcher="http"`` fetches with httpclient's default timeout.

    Every Spark job runs in the job group ``crawl:r<round>:<step>``,
    step ∈ recrawl, prune, kernel, index, discover, commit (resume's
    reads count under the first round's ``recrawl``, the final
    ``collect_order`` reads under the last round's ``commit``); the
    caller's job group is restored on return."""
    if discover == "parse" and fetcher != "http":
        # the scripted double carries no body, so parse-discovery would
        # silently crawl nothing past the seeds
        raise ValueError('discover="parse" requires fetcher="http"')

    result = SparkCrawlResult()
    catalog = SnapshotCatalog(checkpoint_dir) if checkpoint_dir else None
    sc = spark.sparkContext

    def step(round_idx: int, name: str) -> None:
        sc.setJobGroup(f"crawl:r{round_idx}:{name}", f"crawl_spark round {round_idx}: {name}")

    # done carries (host, fetched_round) for the recrawl scheduler and
    # each key's status; every key in it is pruned for good (recrawl
    # deletes the revisited ones first)
    empty_robots = local_frame(
        spark, [], "host string, disallow string, crawl_delay_level int"
    )
    debt_df = empty_debt = local_frame(spark, [], "host string, debt long")
    seenset_df = local_frame(spark, [], _SHARD_BLOB_SCHEMA)
    start_round = 0
    # the injection budget must survive resume: a resumed crawl that
    # forgot its past injections would exceed max_recrawls and diverge
    # from both the oracle and the uninterrupted run
    recrawls_done = 0
    # the snapshot's tables, for the write, resume and the reload after
    # each write; loading a table the snapshot lacks raises
    snap_tables = ["frontier", "done", "order", "seenset"] + (
        ["robots"] if use_robots else []) + (["debt"] if debt_boost else [])

    def load_snapshot(snap):
        t = {name: catalog.load_table(spark, snap, name) for name in snap_tables}
        return (t["frontier"], t["done"], t["order"], t["seenset"],
                t.get("robots", empty_robots), t.get("debt", empty_debt))

    # done keys met since the last blob merge (lazy union of
    # checkpointed per-round outputs): the hybrid filter is an
    # ACCELERATOR that only pays for itself once the probe actually
    # runs (seen_total >= probe_threshold), so folding every round's
    # adds into the shard blobs before that point is a pure
    # shuffle+checkpoint tax — one cogroup per round for nothing
    seen_pending = None
    n_robots_hosts = n_debt_hosts = 0
    manifest = catalog.latest() if resume and catalog is not None else None
    if manifest is not None:
        start_round = manifest["round"] + 1
        step(start_round, "recrawl")
        frontier, done, order_acc, seenset_df, robots_cache, debt_df = load_snapshot(
            manifest["snapshot_id"]
        )
        disc_total = manifest["metrics"]["disc_total"]
        recrawls_done = int(manifest["metrics"]["recrawls_done"])
        result.metrics = manifest["metrics"]["rounds"]
        # the writer's row counts: no count() job
        counts = {name: t["rows"] for name, t in manifest["tables"].items()}
        expected_frontier, seen_total = counts["frontier"], counts["done"]
        n_robots_hosts, n_debt_hosts = counts.get("robots", 0), counts.get("debt", 0)
    else:
        rows = seed_rows(seeds)
        frontier = local_frame(spark, rows, _CANON_SCHEMA)
        # the driver built the seeds itself: no count() job
        disc_total = expected_frontier = len(rows)
        seen_total = 0
        done = local_frame(spark, [], _DONE_SCHEMA)
        order_acc = local_frame(
            spark, [], "round int, pos long, url string, depth int, status string, attempts int"
        )
        robots_cache = empty_robots

    n_slots = sc.defaultParallelism
    n_par = max(n_slots, 4)
    kernel = _round_kernel(
        host_budget=host_budget,
        use_robots=use_robots,
        debt_boost=debt_boost,
        decode_payload=decode_payload,
        payload_images=payload_images,
        payload_scale=payload_scale,
        hold_ms=hold_ms,
        fetcher=fetcher,
        discover=discover,
        fanout=fanout,
        n_hosts=n_hosts,
    )
    round_idx = start_round

    for round_idx in range(start_round, max_rounds):
        # recrawl injection: when the frontier drains with rounds left,
        # re-enqueue each host's ``recrawl_budget`` stalest ok pages
        # (plan_recrawl's manifest — per-host top-N, no global sort) at
        # depth 0 with fresh disc_seq assigned in (host, rank) order.
        # The revisited keys are REMOVED from the done table AND the
        # hybrid filter first — the counting-Bloom decrements, the
        # cuckoo deletes its fingerprint (deletion is why the Bloom
        # counts) — so the unchanged exactly-once machinery re-admits
        # exactly them. The revisits number at most seen_total rows
        # (hosts×budget can be huge at 10^7 hosts), so that bound picks
        # the index path. A done key is already canonical, so the
        # revisit rows are built in the JVM from done's own (key, h64,
        # host) — no canonicalize pass.
        step(round_idx, "recrawl")
        n_recrawled = 0
        if expected_frontier == 0 and recrawl_budget > 0 and recrawls_done < max_recrawls:
            fetched_ok = done.filter(F.col("status") == "ok")
            revisits = plan_recrawl(
                fetched_ok.select("key", "host", "fetched_round"),
                host_budget=recrawl_budget,
                current_round=round_idx,
            ).join(fetched_ok.select("key", "h64"), "key")
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
                done = done.join(
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
                seen_total -= n_recrawled
            recrawls_done += 1
        if expected_frontier == 0:
            break

        # prune (lazy): the frontier rows (seeds, recrawls, or the
        # deferred backlog ∪ the discoveries) are canonical from birth.
        # The sharded Bloom+cuckoo hybrid prunes (definitely-new URLs
        # skip the anti-join entirely); the exact anti-join against the
        # done keys verifies the maybe-seen sliver, keeping the crawl
        # false-positive-free. The probe co-partitions rows with the
        # shard blobs — nothing is broadcast. Below ``probe_threshold``
        # done keys the filter accelerates nothing (the exact anti-join
        # is already a small-table join), so the probe is skipped — the
        # filter is an accelerator by contract, never the source of
        # truth. The robots cache (and debt) then join on host. Every
        # join side takes the BROADCAST_MAX_ROWS rule (:func:`_join_side`).
        step(round_idx, "prune")
        candidates = frontier
        if seen_total:
            done_keys = _join_side(done.select("key"), seen_total)
            if seen_total >= probe_threshold:
                probed = seenset_probe(candidates, seenset_df, SEEN_SHARDS)
                definite_new = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
                maybe = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
                verified_new = maybe.join(done_keys, "key", "left_anti")
                candidates = definite_new.unionByName(verified_new)
            else:
                candidates = candidates.join(done_keys, "key", "left_anti")
        if use_robots:
            candidates = candidates.join(_join_side(robots_cache, n_robots_hosts), "host", "left")
        if debt_boost:
            candidates = candidates.join(_join_side(debt_df, n_debt_hosts), "host", "left")

        # kernel: ONE pandas stage admits and fetches every host's
        # candidates (:func:`_round_kernel`), checkpointed eagerly with
        # the round's counters observed on the same job (a lazy
        # checkpoint plus an agg is one job more under AQE). The rows
        # are dealt by host and sorted on it within each partition, so
        # the kernel makes one pandas pass per Arrow batch, not one per
        # host group.
        # Partitioning runs in WHOLE WAVES of the session's slots: each
        # Python task pays a fixed ~65ms of slot time before its UDF
        # runs (worker hand-off, UDF unpickling, the Arrow round trip;
        # scripts/python_task_cost.py measures it), while a decoded
        # fetch costs ~20ms per row (~10.7ms stand-in body synthesis +
        # ~9ms parse_mhtml). Policy: slots × waves tasks, waves =
        # ⌈candidates / (slots · _KERNEL_ROWS_PER_TASK)⌉ clamped to
        # [1, 8], sized from expected_frontier (the round's candidates
        # before dedup and prune, an upper bound) — one wave of fat
        # tasks at toy rounds, the 8-wave cap at 10^10-URL rounds. An
        # explicit repartition by number is never coalesced by AQE, so
        # the count holds. Placement is by host hash, so a task's fetch
        # work is bounded by politeness: at most 2 × host_budget
        # fetches (the debt cap) per host it holds.
        # Memory bound per kernel task: the JVM sorts the task's rows
        # by host (spilling past its memory) and hands Python one Arrow
        # batch at a time, so a worker holds one batch (at most
        # spark.sql.execution.arrow.maxRecordsPerBatch rows, ~200 B per
        # canonical row), the carried rows of the one host that batch
        # ends in, the batch's output rows (plus fanout × ~180 B of
        # children per fetched row), and the per-task body pool of
        # :func:`stand_in_pool` (≤ 64 bodies, ~62MB at payload (8, 6)).
        step(round_idx, "kernel")
        waves = min(8, max(1, -(-expected_frontier // (n_slots * _KERNEL_ROWS_PER_TASK))))
        counters = Observation()
        admitted = (
            candidates.repartition(n_slots * waves, "host")
            .sortWithinPartitions("host")
            .mapInPandas(kernel, schema=_KERNEL_SCHEMA)
            .observe(counters, *_kernel_counters())
            .localCheckpoint(eager=True)
        )
        c = {k: int(v or 0) for k, v in counters.get.items()}
        if n_slots * waves > n_par:
            # the downstream steps each re-read the slim checkpoint and
            # would pay a fixed per-task cost per kernel partition;
            # coalesce is narrow (no shuffle, no extra stage)
            admitted = admitted.coalesce(n_par)
        status = F.col("status")
        # None for a zero-fetch round (every candidate deduped away or
        # blocked): no metrics row, same as the oracle; the next
        # iteration either injects a recrawl or terminates at the top
        # break
        round_row = round_metrics(round_idx, c, n_recrawled)

        if round_row is not None:
            # index: global fetch position (ordering contract) over
            # (depth, host_rank, disc_seq); the fetched count picks the
            # index path (same logical order either way; tests force
            # both paths against the oracle)
            step(round_idx, "index")
            fetched_pos, _ = index_rows(
                admitted.filter(status.isin("ok", "failed")).select(
                    "key", "depth", "host_rank", "disc_seq", "status", "attempts"
                ),
                ["depth", "host_rank", "disc_seq"],
                "pos",
                c["fetched"],
            )
            # discover: only ok rows carry children, so the observed
            # children count is the exact row count and picks the path
            step(round_idx, "discover")
            frontier = next_frontier(admitted, c, disc_total)

        # commit: state unions, all distributed; the hybrid seen-set
        # folds via a per-shard cogroup (one task per shard, work =
        # blob + its adds); no per-row collect anywhere
        step(round_idx, "commit")
        if use_robots and c["robots"]:
            robots_cache = robots_cache.unionByName(
                admitted.filter(status == "robots").select("host", "disallow", "crawl_delay_level")
            )
            n_robots_hosts += c["robots"]
        done_adds = admitted.filter(status.isin("ok", "failed", "blocked")).select(
            "key", "h64", "host", F.lit(round_idx).cast("int").alias("fetched_round"), "status"
        )
        done = done.unionByName(done_adds)
        seen_adds = done_adds.select("h64")
        seen_pending = seen_adds if seen_pending is None else seen_pending.unionByName(seen_adds)
        seen_total += c["fetched"] + c["blocked"]
        if seen_total >= probe_threshold or catalog is not None:
            # the next round WILL probe (or a snapshot must carry a
            # consistent filter): fold everything pending in ONE
            # cogroup pass and cut lineage. Below the threshold the
            # pending union just rides along — the probe gate in the
            # prune step shares this exact seen_total condition, so a
            # probe can never observe an unfolded filter. Lazy, and
            # under AQE the fold's shuffle stages run here, at the
            # call; its last stage runs in the first job that reads it
            # (the next probe or the snapshot write)
            seenset_df = seenset_merge(
                seenset_df, seen_pending, SEEN_SHARDS, SEEN_BLOOM_BITS,
                SEEN_CUCKOO_BUCKETS,
            ).localCheckpoint(eager=False)
            seen_pending = None
        if round_row is None:
            # debt_df deliberately NOT recomputed on this path: the
            # oracle updates debt only when candidates exist, and an
            # empty-round overwrite would clear a nonzero backlog
            expected_frontier = 0
            continue
        if debt_boost:
            # next round's debt = this round's per-host overflow counts
            debt_df = admitted.filter(status == "debt").select("host", "debt")
            n_debt_hosts = c["debt"]

        order_acc = order_acc.unionByName(
            fetched_pos.select(
                F.lit(round_idx).alias("round"),
                "pos",
                F.col("key").alias("url"),
                "depth",
                "status",
                "attempts",
            )
        )
        disc_total += c["children"]
        expected_frontier = c["deferred"] + c["children"]
        result.metrics.append(round_row)

        # snapshot: cuts lineage AND makes the crawl resumable with
        # per-partition manifest lineage; the hybrid seen-set rides
        # along as ordinary binary rows (one per shard), so resume
        # never rebuilds it. Without a catalog the kernel output is
        # already checkpointed, so the next round's lineage stays one
        # round deep.
        if catalog is not None:
            # the snapshot frontier holds canonical rows, so a resumed
            # or reloaded round never re-canonicalizes
            tables = {
                "frontier": frontier,
                "done": done,
                "order": order_acc,
                "seenset": seenset_df,
                "robots": robots_cache,
                "debt": debt_df,
            }
            snap = catalog.write_snapshot(
                {name: tables[name] for name in snap_tables},
                metrics={
                    "rounds": result.metrics,
                    "disc_total": disc_total,
                    "recrawls_done": recrawls_done,
                    **round_row,
                },
                round_idx=round_idx,
            )
            result.snapshots.append(snap)
            frontier, done, order_acc, seenset_df, robots_cache, debt_df = load_snapshot(snap)

    if collect_order:
        step(round_idx, "commit")
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
        by_status = {"ok": result.seen, "failed": result.failed, "blocked": result.blocked}
        for r in done.select("key", "status").collect():
            by_status[r["status"]].add(r["key"])
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
