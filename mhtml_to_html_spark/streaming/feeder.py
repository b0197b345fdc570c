"""Streaming feeder loop as a production job (round-3 verdict item 5;
round-4 verdict item 1: the round barrier is fully distributed).

The round-based discovery feedback that the oracle harness drives
inline (``q_frontier_stream``) packaged as a RESUMABLE job: each round
materializes the current frontier into the stream source directory,
runs ONE ``availableNow`` pass of the streaming politeness gate
(``canonical_gate`` — applyInPandasWithState; its checkpoint carries
every host's seen set across passes AND process restarts), then
derives the next frontier from the gate's output — deferred rows
re-queue first, then ok rows discover children in fetch order (the
batch crawl's collecting walk, ``lib/convert.js:129-146`` round-loop
semantics).

Frontier rows are canonical from birth, as in the batch crawl: the
source holds ``_CANON_SCHEMA`` rows (seeds from ``seed_rows``,
deferred rows with the canonical columns the gate passed through,
children from the gate's canonical child structs), so each micro-batch
runs one Python stage, the gate itself.

Scale shape (the whole round barrier is DataFrame ops — the batch
crawl's own index and discover steps, ``spark_frontier.py``):
- the driver holds ONLY per-round counters (one ``agg`` row per
  round) and the frontier parquet path; no gate output row, child
  URL, or frontier row is ever collected;
- the next frontier = deferred rows ∪ exploded children, with
  ``disc_seq`` assigned by the batch crawl's own discovery
  (``spark_frontier.discovered_rows`` over
  ``frontier/indexing.py:index_rows``): the distributed two-pass index
  once the round reaches ``DIST_INDEX_MIN_ROWS`` rows, one window task
  below it (the round is small by definition there) — same total order
  either way, both paths pinned against the oracle;
- all frontier/sink writes are plain distributed parquet writes
  (no single-task write funnels).
``tests/test_plans.py::test_feeder_round_path_never_collects`` gates
the no-collect property; ``stream_crawl_order`` below is the one
sanctioned collect (a test/debug helper, not the job path).

Durability contract:
- the GATE state (per-host exact seen-hash sets) lives in the
  structured-streaming checkpoint — exactly-once admission survives
  any crash;
- the FEEDER state (pending frontier + discovery counter) persists
  per round under ``work_dir/feeder`` (frontier as parquet, counters
  as json); ``resume=True`` continues from the latest COMPLETED
  round. A crash between the streaming commit and the feeder-state
  write replays one gate pass on resume: the seen state dedups every
  already-fetched key (nothing is refetched — the exactly-once
  contract holds), only the round attribution of that tail can shift,
  the standard at-least-once feeder window.

Ordering parity with the batch crawl oracle (byte-for-byte, same
seeds and budget) is pinned by tests/test_streaming.py, including a
mid-crawl restart.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..frontier.spark_frontier import (
    _CANON_COLS,
    _CANON_SCHEMA,
    discovered_rows,
    local_frame,
    seed_rows,
)

# seconds one availableNow gate pass may run before the round fails
# (its feeder state is then not committed; resume=True re-runs it)
PASS_TIMEOUT_S = 600
_ORDER_KEYS = ("round", "pos", "url", "depth", "status", "attempts")


_COUNTER_AGGS = lambda: [  # noqa: E731 — shared by the agg and observe paths
    F.count(F.lit(1)).alias("n"),
    F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("ok"),
    F.sum(F.when(F.col("status") == "failed", 1).otherwise(0)).alias("failed"),
    F.sum(F.when(F.col("status") == "deferred", 1).otherwise(0)).alias("deferred"),
    F.sum(F.when(F.col("status") == "blocked", 1).otherwise(0)).alias("blocked"),
]

_COUNTER_KEYS = ("n", "ok", "failed", "deferred", "blocked")


def _next_frontier(
    out: DataFrame, disc: int, counters: dict | None = None
) -> tuple[DataFrame, int | None, dict]:
    """One round's barrier, all DataFrame ops: counters via ONE agg
    (skipped when the caller already observed them on the stream —
    the same numbers, collected by the micro-batch itself), next
    frontier = deferred ∪ children-of-ok with ``disc_seq`` continuing
    the global counter in (parent fetch order, document order), all
    canonical rows (``_CANON_COLS``). ``out`` is the gate's output.
    Returns (frontier_df, n_discovered, counters); ``n_discovered`` is
    None when the index path did not count the children."""
    if counters is None:
        c = out.agg(*_COUNTER_AGGS()).collect()[0]
        counters = {k: int(c[k] or 0) for k in _COUNTER_KEYS}

    deferred = out.filter(F.col("status") == "deferred").select(*_CANON_COLS)
    # children came out of the gate's fetch_row, canonical; disc_seq
    # continues the global counter under the batch crawl's total order
    # (parent fetch order, child document order), the round's gate row
    # count picking the index path
    discovered, n_disc = discovered_rows(
        out.filter(F.col("status") == "ok"), counters["n"], disc
    )
    frontier = deferred.unionByName(discovered)
    return frontier, n_disc, counters


def _state_meta_path(work_dir: str) -> str:
    return f"{work_dir}/feeder/latest.json"


def stream_crawl_job(
    spark: SparkSession,
    seeds: list[str],
    work_dir: str,
    max_rounds: int = 6,
    host_budget: int = 8,
    fanout: int = 3,
    n_hosts: int = 7,
    use_robots: bool = False,
    resume: bool = False,
    stop_after_round: int | None = None,
    fetcher: str = "double",
    discover: str = "scripted",
    decode_payload: bool = False,
    payload_images: int = 2,
    payload_scale: int = 1,
) -> dict:
    """Run the streaming crawl to fixpoint (or ``max_rounds``);
    returns ``{"rounds": [...], "fixpoint": bool, "next_round": int}``
    with one metrics dict per executed round. ``stop_after_round``
    stops cleanly after that many NEW rounds (the mid-crawl restart
    test's hook); call again with ``resume=True`` to continue. Each
    gate pass may run :data:`PASS_TIMEOUT_S` seconds."""
    from .frontier import canonical_gate

    src, sink, ckpt = f"{work_dir}/src", f"{work_dir}/sink", f"{work_dir}/ckpt"
    meta_path = _state_meta_path(work_dir)

    if resume and os.path.exists(meta_path):
        with open(meta_path) as fh:
            meta = json.load(fh)
        start_round, disc = int(meta["round"]) + 1, int(meta["disc"])
        n_pending = int(meta["n_pending"])
        frontier = spark.read.parquet(meta["frontier"]) if meta["frontier"] else None
    else:
        rows = seed_rows(seeds)  # seeds are the job's driver-side input
        start_round, disc = 0, len(rows)
        n_pending = len(rows)
        frontier = local_frame(spark, rows, _CANON_SCHEMA) if rows else None

    metrics = []
    executed = 0
    r = start_round
    while r < max_rounds and n_pending:
        if stop_after_round is not None and executed >= stop_after_round:
            break
        # distributed parquet write (resume path: a parquet→parquet
        # copy feeder/frontier_round_N → src, never through the driver)
        frontier.write.mode("append").parquet(src)

        feeder_round = r

        def to_sink(df, batch_id, _r=feeder_round):
            # one subdirectory per round: the per-round read below and
            # any later order collection scan only what they need (a
            # single growing directory would make round N re-scan all
            # N-1 earlier rounds — quadratic I/O over the crawl)
            df.withColumn("feeder_round", F.lit(_r)).write.mode("append").parquet(
                f"{sink}/r{_r:06d}"
            )

        # State-shard width for the politeness gate. The stateful
        # shuffle inherits spark.sql.shuffle.partitions at the
        # checkpoint's FIRST batch, and every micro-batch then pays a
        # fixed per-shard cost (state-store commit + delta file + one
        # gate task) regardless of row count — so the width is the
        # number of executor slots (defaultParallelism), not the SQL
        # shuffle width tuned for joins (r6 profile: 64 shards -> 32 on
        # local[32] cut ~0.7s/round of pure commit overhead at
        # identical results). An existing checkpoint keeps the width it
        # was created with (Spark pins it in the offset metadata), so
        # resume is unaffected. The width is scoped to the streaming
        # query only: the barrier jobs below keep the SparkSession's own.
        shuffle_conf = "spark.sql.shuffle.partitions"
        prev_shuffle = spark.conf.get(shuffle_conf)
        spark.conf.set(shuffle_conf, str(spark.sparkContext.defaultParallelism))
        try:
            q = (
                canonical_gate(
                    spark.readStream.schema(_CANON_SCHEMA).parquet(src),
                    host_budget=host_budget,
                    use_robots=use_robots,
                    fetcher=fetcher,
                    discover=discover,
                    decode_payload=decode_payload,
                    payload_images=payload_images,
                    payload_scale=payload_scale,
                    fanout=fanout,
                    n_hosts=n_hosts,
                )
                # round counters ride the micro-batch itself
                # (CollectMetrics over every gate row) instead of a
                # separate driver job re-reading the sink afterwards
                .observe("round_counters", *_COUNTER_AGGS())
                .writeStream.foreachBatch(to_sink)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            terminated = q.awaitTermination(PASS_TIMEOUT_S)
        finally:
            spark.conf.set(shuffle_conf, prev_shuffle)
        if not terminated:
            # committing feeder state off a partially-written sink
            # would silently drop the in-flight URLs forever (they are
            # already in the gate's seen state) — fail loudly instead
            q.stop()
            raise RuntimeError(
                f"streaming pass for round {feeder_round} exceeded "
                f"{PASS_TIMEOUT_S}s; feeder state NOT committed — "
                "re-run with resume=True (the gate checkpoint dedups)"
            )

        # the observed metrics are exact when this pass ran as ONE
        # micro-batch — the steady-state shape (the per-round budget
        # contract already depends on it). A replayed-WAL restart or a
        # multi-batch pass yields several progress rows, and a metrics
        # row only covers its own batch, so anything but exactly one
        # progress row falls back to the agg job inside _next_frontier.
        counters = None
        this_pass = [p for p in q.recentProgress if p is not None]
        if len(this_pass) == 1:
            row = this_pass[0].get("observedMetrics", {}).get("round_counters")
            if row is not None:
                counters = {k: int(row[k] or 0) for k in _COUNTER_KEYS}

        out = spark.read.parquet(f"{sink}/r{feeder_round:06d}")
        # blocked rows (use_robots) are reported once and join the seen
        # set but get NO crawl-order position and do not count as
        # fetched — the batch oracle's semantics (they also yield no
        # children: only status='ok' rows discover)
        frontier, n_disc, counters = _next_frontier(out, disc, counters=counters)

        # COMMIT POINT: persist the feeder state for this round. The
        # frontier write is the action that materializes the barrier;
        # the pending count then reads back as a metadata-only
        # count(*) over the written parquet footers (no data scan).
        frontier_path = f"{work_dir}/feeder/frontier_round_{feeder_round}"
        frontier.write.mode("overwrite").parquet(frontier_path)
        n_pending = int(
            spark.read.parquet(frontier_path)
            .agg(F.count("*").alias("n"))
            .collect()[0]["n"]
        )
        if n_disc is None:  # the window path: folded into the frontier count
            n_disc = n_pending - counters["deferred"]
        disc += n_disc
        if not n_pending:
            frontier_path = ""

        metrics.append(
            {
                "round": feeder_round,
                "fetched": counters["n"] - counters["deferred"] - counters["blocked"],
                "ok": counters["ok"],
                "failed": counters["failed"],
                "deferred": counters["deferred"],
                "blocked": counters["blocked"],
                "discovered": disc,
            }
        )

        os.makedirs(f"{work_dir}/feeder", exist_ok=True)
        tmp = meta_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "round": feeder_round,
                    "disc": disc,
                    "frontier": frontier_path,
                    "n_pending": n_pending,
                },
                fh,
            )
        os.replace(tmp, meta_path)
        if n_pending:
            frontier = spark.read.parquet(frontier_path)

        executed += 1
        r += 1

    return {"rounds": metrics, "fixpoint": not n_pending, "next_round": r}


def stream_crawl_order(spark: SparkSession, work_dir: str) -> list[dict]:
    """Full crawl ordering from the job's sink — the batch crawl's
    test-contract shape [(round, pos, url, depth, status, attempts)],
    byte-comparable to ``crawl_oracle(...).order``. A test/debug
    collect, not part of the job's steady-state path."""
    out = spark.read.parquet(f"{work_dir}/sink/r*").collect()
    order = []
    for r in sorted({row["feeder_round"] for row in out}):
        fetched = sorted(
            (
                row
                for row in out
                if row["feeder_round"] == r
                and row["status"] not in ("deferred", "blocked")
            ),
            key=lambda row: (row["depth"], row["host_rank"], row["disc_seq"]),
        )
        for pos, row in enumerate(fetched):
            order.append(
                dict(
                    zip(
                        _ORDER_KEYS,
                        (r, pos, row["key"], row["depth"], row["status"], row["attempts"]),
                    )
                )
            )
    return order
