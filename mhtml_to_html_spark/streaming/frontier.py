"""Streaming frontier: the crawl without round barriers.

At 10^10 URLs the crawl is naturally a stream — discovered URLs arrive
continuously, and a fetch should not wait for a global round to close.
This module is the Structured-Streaming shape of
``frontier/spark_frontier.py``:

- **politeness + exactly-once as a custom stateful operator**:
  ``applyInPandasWithState`` keyed by host; the state carries the
  host's exact seen-hash set, so each canonical URL is fetched at most
  once for all time, and each host admits at most ``host_budget``
  fetches per micro-batch (the token-bucket refill interval). Overflow
  is emitted as ``status='deferred'`` for the feeder to re-queue — the
  same defer-to-next-wave semantics as the batch crawl's round loop.
- **one admission core**: each host's micro-batch runs the batch
  crawl's dedup and sort (``spark_frontier._admission_rows``) and its
  per-host core ``spark_frontier._admit_host_batch`` (seen, robots,
  token budget, and ``fetch_row`` per admitted key: fetch, decode,
  discovery, canonical children), with the same per-task body pool
  (``spark_frontier.stand_in_pool``).
- **canonical rows in, canonical rows out**: :func:`canonical_gate`
  takes frontier rows that are canonical from birth (``_CANON_SCHEMA``,
  the batch crawl's frontier row) and emits them with the fetch result
  and the canonical children, so the feeder's micro-batch runs one
  Python stage. :func:`stream_frontier_fetch` is the raw-URL entry:
  it canonicalizes first, then runs the same gate.
- **the discovery loop is the outer system**: Structured Streaming
  queries are acyclic by design, so children feed back through the
  source (a Kafka topic / Delta table in production; appended files in
  tests + Trigger.AvailableNow), exactly how a production continuous
  crawler closes the loop. State persists across query restarts via
  the checkpoint, which is what makes the feeder loop correct.

Scale notes: state is per-host (hash-partitioned by the groupBy), one
state row per host — 10^7 hosts spread over executors, each holding
its own seen hashes; the global exact seen table still exists
downstream (the sink), the state is the admission gate. A host's
state row grows by 8 bytes per URL it has fetched or blocked.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame

from ..frontier.fixtures import robots_rules
from ..frontier.spark_frontier import (
    _ADMIT_COLS,
    _ADMIT_SCHEMA,
    _CANON_SCHEMA,
    _admission_rows,
    _admit_host_batch,
    canonical_fields,
    stand_in_pool,
)
from ..functions import is_fetchable_col

_GATE_STATE_SCHEMA = "seen array<long>"


def _decode_seen(seen_list) -> set:
    """State stores signed int64 (Spark LongType); probe unsigned —
    without this mask, every hash >= 2^63 is refetched after a restart
    (caught by live-driving the gate, not by the oracle test whose
    fixture hashes happened to collide low)."""
    return {v & 0xFFFFFFFFFFFFFFFF for v in seen_list}


def _encode_seen(seen: set) -> list:
    return sorted(v - (1 << 64) if v >= 1 << 63 else v for v in seen)


def _canonicalize_batches(batches):
    """Raw (url, depth, disc_seq) rows → canonical frontier rows: the
    raw-URL entry's one Python pass ahead of the gate (the feeder's
    rows are canonical from birth and never take it)."""
    import pandas as pd

    for pdf in batches:
        fields = [canonical_fields(u) for u in pdf["url"]]
        keys, hosts, ranks, h64s = zip(*fields) if fields else ((),) * 4
        out = {
            "url": pdf["url"],
            "depth": pdf["depth"],
            "disc_seq": pdf["disc_seq"],
            "key": list(keys),
            "host": list(hosts),
            "host_rank": list(ranks),
            "h64": list(h64s),
        }
        yield pd.DataFrame(out)


def _politeness_gate(
    key,
    pdfs,
    state,
    host_budget: int,
    use_robots: bool,
    decode_payload: bool,
    payload_images: int,
    payload_scale: int,
    **fetch_kw,
):
    """applyInPandasWithState wrapper around ``_admit_host_batch``:
    the host's exact seen-hash set rides in the GroupState (per-host
    state is exactly where a robots cache and a seen set belong — they
    are host-keyed data)."""
    import pandas as pd

    (host,) = key
    seen = _decode_seen(state.get[0]) if state.exists else set()
    stand_in = stand_in_pool(payload_images, payload_scale) if decode_payload else None
    rows = _admit_host_batch(
        _admission_rows(pd.concat(list(pdfs), ignore_index=True)), seen, host_budget,
        robots_rules(host) if use_robots else None, stand_in=stand_in, **fetch_kw,
    )
    state.update((_encode_seen(seen),))
    yield pd.DataFrame(rows, columns=_ADMIT_COLS)


def canonical_gate(
    canon_stream: DataFrame,
    host_budget: int = 8,
    use_robots: bool = False,
    fetcher: str = "double",
    discover: str = "scripted",
    decode_payload: bool = False,
    payload_images: int = 2,
    payload_scale: int = 1,
    fanout: int = 3,
    n_hosts: int = 7,
) -> DataFrame:
    """Canonical frontier stream (``_CANON_SCHEMA``) → fetch-result
    stream (``_ADMIT_SCHEMA``): one ``applyInPandasWithState`` stage.

    Output rows are the input's canonical columns plus ``status`` ∈
    {ok, failed, deferred, blocked}, ``attempts``, ``delay_ms`` and the
    ``children`` ``fetch_row`` discovered (the batch fetch UDF's
    canonical child structs; empty unless fetched). Deferred rows are
    the feeder's re-queue contract and keep their canonical columns.
    Each host's state is its exact seen-hash set (``seen
    array<long>``), probed with the input's ``h64``: a key admitted or
    blocked once is never emitted again, so the stream has no recrawl
    (the batch crawl's ``recrawl_budget`` is its only recrawl)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    if discover == "parse" and fetcher != "http":
        raise ValueError('discover="parse" requires fetcher="http"')
    return canon_stream.groupBy("host").applyInPandasWithState(
        functools.partial(
            _politeness_gate,
            host_budget=host_budget,
            use_robots=use_robots,
            fetcher=fetcher,
            discover=discover,
            decode_payload=decode_payload,
            payload_images=payload_images,
            payload_scale=payload_scale,
            fanout=fanout,
            n_hosts=n_hosts,
        ),
        outputStructType=_ADMIT_SCHEMA,
        stateStructType=_GATE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_frontier_fetch(urls_stream: DataFrame, **gate_kw) -> DataFrame:
    """Raw (url, depth, disc_seq) stream → fetch-result stream: the
    batch crawl's seed gate (fetch eligibility and one urn unwrap,
    JVM-side), :func:`_canonicalize_batches`, then :func:`canonical_gate`
    with ``gate_kw``. Canonicalization is the batch crawl's own
    (``canonical_fields``), so the seen-set key is identical between the
    two crawl shapes."""
    from pyspark.sql import functions as F

    # fetch eligibility + one urn unwrap, JVM-side — the same gate the
    # batch crawl applies at seed injection (convert.js:167-171,810-814)
    eligible = urls_stream.filter(is_fetchable_col("url"))
    unwrapped = F.when(
        F.col("url").rlike("^(?i)urn:[^:]+:.+"),
        F.regexp_extract(F.col("url"), "^(?i)urn:[^:]+:(.+)$", 1),
    ).otherwise(F.col("url"))
    canon = eligible.withColumn("url", unwrapped).mapInPandas(
        _canonicalize_batches, schema=_CANON_SCHEMA
    )
    return canonical_gate(canon, **gate_kw)
