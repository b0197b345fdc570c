"""URL frontier + fetch scheduler (the north-rule crawl engine).

- ``fixtures``: deterministic synthetic link graph + scripted fetch
  double (the reference's own test approach,
  /root/reference/test/helpers/fetch.js — no network in the sandbox).
- ``oracle``: pure-Python transcription of the reference scheduler
  semantics (/root/reference/lib/convert.js:129-228): round fixpoint,
  exactly-once fetch, failure deny-list, retry/backoff with Retry-After
  cap — extended with the north-rule politeness budget and (depth,
  host_rank) priority order. This is the byte-for-byte ordering oracle.
- ``seenset``: counting-Bloom + cuckoo-filter structures for the
  10^10-URL seen set.
- ``spark_frontier``: the distributed implementation — driver fixpoint
  loop over DataFrames, bloom-pruned anti-join dedup, priority queue
  as per-host budget windows plus a two-pass global fetch index, fetch
  UDF, snapshot checkpoints.
"""

from .oracle import crawl_oracle  # noqa: F401
from .fixtures import seed_urls, fetch_double, children_of, host_rank  # noqa: F401
