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

from ..frontier.spark_frontier import _CANON_SCHEMA, _canonicalize_batches

GATE_SCHEMA = (
    "key string, url string, host string, depth int, disc_seq long, "
    "status string, attempts int, delay_ms long"
)
_GATE_STATE_SCHEMA = "seen array<long>"


def _decode_seen(seen_list) -> set:
    """State stores signed int64 (Spark LongType); probe unsigned —
    without this mask, every hash >= 2^63 is refetched after a restart
    (caught by live-driving the gate, not by the oracle test whose
    fixture hashes happened to collide low)."""
    return {v & 0xFFFFFFFFFFFFFFFF for v in seen_list}


def _encode_seen(seen: set) -> list:
    return sorted(v - (1 << 64) if v >= 1 << 63 else v for v in seen)


@functools.lru_cache(maxsize=64)
def _cached_archive(idx: int, images: int, scale: int) -> bytes:
    """Synthetic archive pool for decode_payload with the scripted
    double. Module-level, so the cache lives as long as the Python
    worker: at most 64 bodies of ``build_archive(idx, images, scale)``
    per worker. At ``payload_images=8, payload_scale=6`` the 64 bodies
    total 61 MB (0.65-1.39 MB each, 0.96 MB mean).

    This is NOT the batch crawl's contract. ``_fetch_batches`` keeps a
    per-task cache on purpose, so a later job never reuses bodies an
    earlier job synthesized. Here, after warm-up, micro-batches and
    whole jobs reuse bodies, so a streaming crawl's wall time leaves
    out body synthesis that the batch crawl pays."""
    from ..sources.corpus import build_archive

    return build_archive(idx, images, scale)


def _admit_host_batch(
    host: str, batch, seen: set, host_budget: int, use_robots: bool,
    fetcher: str = "double",
    discover: str = "scripted",
    decode_payload: bool = False,
    payload_images: int = 2,
    payload_scale: int = 1,
    emit_children: tuple[int, int] | None = None,
):
    """The per-host admission kernel of the politeness gate: sort the
    micro-batch by the crawl priority (depth, host_rank, disc_seq),
    dedup first-discovery-wins against the batch and the host's
    all-time seen-hash set (mutated in place), fetch up to the host's
    token budget, defer the rest. Returns the output rows.

    With ``use_robots`` the host's robots rules gate admission:
    disallowed URLs emit ``status='blocked'`` once and join the seen
    set; the crawl-delay level scales the per-micro-batch token
    refill, the same token-bucket rule as the batch crawl."""
    from ..frontier.fixtures import (
        fetch_with_retries,
        host_token_budget,
        robots_allows,
    )
    from ..frontier.seenset import url_hash64

    parse_links = discover == "parse"
    with_children = parse_links or emit_children is not None
    if decode_payload:
        # north-rule parity with the batch crawl's fetch stage: each
        # ok fetch runs the MHTML payload decode inline (real bytes
        # with the http client, the synthetic pool with the double)
        from ..mime.splitter import parse_mhtml
    if fetcher == "http":
        # production seam: real sockets, same retry contract/code as
        # the double (frontier/httpclient.py). With discover="parse"
        # the fetched bytes also yield the page's anchor links (the
        # real-crawl collecting walk); without decode_payload the gate
        # keeps only the (status, attempts, delay) triple and payload
        # decode is a downstream stage
        from ..frontier.httpclient import fetch_url_with_retries

        if parse_links:
            from ..frontier.spark_frontier import extract_links

        def do_fetch(u):
            status, attempts, delay, _ct, body = fetch_url_with_retries(u)
            kids = (
                extract_links(body)
                if parse_links and status == "ok" and body
                else []
            )
            if decode_payload and status == "ok" and body:
                parse_mhtml(body)
            return status, attempts, delay, kids
    else:
        if emit_children is not None:
            # scripted discovery riding the fetch itself (the batch
            # crawl's shape, spark_frontier._fetch_batches): children
            # in document order, eligibility-filtered before numbering
            from ..frontier.fixtures import children_of
            from ..urlnorm import is_fetchable

            fanout, n_hosts = emit_children

        def do_fetch(u):
            out = fetch_with_retries(u)
            if decode_payload and out[0] == "ok":
                parse_mhtml(
                    _cached_archive(
                        url_hash64(u) % 64, payload_images, payload_scale
                    )
                )
            kids = (
                [c for c in children_of(u, fanout, n_hosts) if is_fetchable(c)]
                if emit_children is not None and out[0] == "ok"
                else []
            )
            return out + (kids,)

    budget = host_token_budget(host, host_budget) if use_robots else host_budget
    # first-discovery-wins dedup (min disc_seq — the batch crawl's
    # min_by semantics), then the crawl priority order
    batch = (
        batch.sort_values("disc_seq")
        .drop_duplicates("key")
        .sort_values(["depth", "host_rank", "disc_seq"])
    )
    rows = []
    admitted = 0
    for r in batch.itertuples():
        h = url_hash64(r.key)
        if h in seen:
            continue  # exactly-once across the whole stream
        base = {
            "key": r.key,
            "url": r.url,
            "host": host,
            "depth": int(r.depth),
            "disc_seq": int(r.disc_seq),
        }
        if with_children:
            base["children"] = []
        if use_robots and not robots_allows(host, r.key):
            seen.add(h)  # permanently blocked — reported exactly once
            rows.append({**base, "status": "blocked", "attempts": 0, "delay_ms": 0})
            continue
        if admitted < budget:
            status, attempts, delay_ms, kids = do_fetch(r.key)
            seen.add(h)
            admitted += 1
            row = {**base, "status": status, "attempts": attempts, "delay_ms": delay_ms}
            if with_children:
                row["children"] = kids
            rows.append(row)
        else:
            rows.append({**base, "status": "deferred", "attempts": 0, "delay_ms": 0})
    return rows


_GATE_COLUMNS = ["key", "url", "host", "depth", "disc_seq", "status", "attempts", "delay_ms"]
_GATE_COLUMNS_PARSE = _GATE_COLUMNS + ["children"]


def _politeness_gate(
    key,
    pdfs,
    state,
    host_budget: int = 8,
    use_robots: bool = False,
    fetcher: str = "double",
    discover: str = "scripted",
    decode_payload: bool = False,
    payload_images: int = 2,
    payload_scale: int = 1,
    emit_children: tuple[int, int] | None = None,
):
    """applyInPandasWithState wrapper around :func:`_admit_host_batch`:
    the host's exact seen-hash set rides in the GroupState (per-host
    state is exactly where a robots cache and a seen set belong — they
    are host-keyed data)."""
    import pandas as pd

    (host,) = key
    seen = _decode_seen(state.get[0]) if state.exists else set()
    batch = pd.concat(list(pdfs), ignore_index=True)
    rows = _admit_host_batch(
        host, batch, seen, host_budget, use_robots, fetcher=fetcher,
        discover=discover, decode_payload=decode_payload,
        payload_images=payload_images, payload_scale=payload_scale,
        emit_children=emit_children,
    )
    state.update((_encode_seen(seen),))
    cols = (
        _GATE_COLUMNS_PARSE
        if (discover == "parse" or emit_children is not None)
        else _GATE_COLUMNS
    )
    yield pd.DataFrame(rows, columns=cols)


def stream_frontier_fetch(
    urls_stream: DataFrame,
    host_budget: int = 8,
    use_robots: bool = False,
    fetcher: str = "double",
    discover: str = "scripted",
    decode_payload: bool = False,
    payload_images: int = 2,
    payload_scale: int = 1,
    emit_children: tuple[int, int] | None = None,
) -> DataFrame:
    """(url, depth, disc_seq) stream → fetch-result stream.

    ``emit_children=(fanout, n_hosts)`` makes the SCRIPTED double emit
    each ok fetch's eligibility-filtered children in document order
    (the batch crawl's fetch-UDF shape), adding a ``children`` column
    to the output — the feeder then derives the next frontier with one
    JVM posexplode instead of a second Python pass per round. Default
    off: the oracle-pinned gate pairs keep the 8-column schema.

    Output rows carry ``status`` ∈ {ok, failed, deferred, blocked};
    deferred rows are the feeder's re-queue contract. Canonicalization
    runs in the same vectorized UDF as the batch path, so the seen-set
    KEY is identical between the two crawl shapes. Each host's state is
    its exact seen-hash set (``seen array<long>``): a key admitted or
    blocked once is never emitted again, so the stream has no recrawl
    (the batch crawl's ``recrawl_budget`` is its only recrawl)."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    # fetch eligibility + one urn unwrap, JVM-side — the same gate the
    # batch crawl applies at seed injection (convert.js:167-171,810-814)
    eligible = urls_stream.filter(F.col("url").rlike("^(?i)(https?|urn):"))
    unwrapped = F.when(
        F.col("url").rlike("^(?i)urn:[^:]+:.+"),
        F.regexp_extract(F.col("url"), "^(?i)urn:[^:]+:(.+)$", 1),
    ).otherwise(F.col("url"))
    if discover == "parse" and fetcher != "http":
        raise ValueError('discover="parse" requires fetcher="http"')
    canon = eligible.withColumn("url", unwrapped).mapInPandas(
        _canonicalize_batches, schema=_CANON_SCHEMA
    )
    return canon.groupBy("host").applyInPandasWithState(
        functools.partial(
            _politeness_gate,
            host_budget=host_budget,
            use_robots=use_robots,
            fetcher=fetcher,
            discover=discover,
            decode_payload=decode_payload,
            payload_images=payload_images,
            payload_scale=payload_scale,
            emit_children=emit_children,
        ),
        outputStructType=(
            GATE_SCHEMA + ", children array<string>"
            if (discover == "parse" or emit_children is not None)
            else GATE_SCHEMA
        ),
        stateStructType=_GATE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

