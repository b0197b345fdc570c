"""Streaming operators vs their batch equivalents: file source +
Trigger.AvailableNow, memory sink, exact result parity."""

import os

import pytest

from mhtml_to_html_spark.frontier.indexing import DIST_INDEX_MIN_ROWS
from mhtml_to_html_spark.streaming import stream_events_windowed
from tests.helpers.indexing import two_pass_index

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    # streaming file sources need a directory, the driver tables are
    # single files — restage once per module
    path = str(tmp_path_factory.mktemp("events_stream"))
    spark.read.parquet(f"{SF_DIR}/events.parquet").write.mode("overwrite").parquet(path)
    return path


@pytest.fixture(scope="module")
def events_schema(spark):
    return spark.read.parquet(f"{SF_DIR}/events.parquet").schema


def _run_available_now(stream_df, name: str, spark):
    query = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append" if name != "windowed" else "complete")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


@pytest.mark.spark
def test_streaming_windowed_agg_matches_batch(spark, events_schema, events_dir):
    from pyspark.sql import functions as F

    stream = spark.readStream.schema(events_schema).parquet(events_dir)
    result = _run_available_now(stream_events_windowed(stream), "windowed", spark)

    batch = spark.read.parquet(f"{SF_DIR}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    expected = (
        batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )
    got = {tuple(r) for r in result.collect()}
    want = {tuple(r) for r in expected.collect()}
    assert got == want


@pytest.mark.spark
def test_streaming_frontier_matches_oracle(spark, tmp_path):
    """Continuous-crawl shape: the applyInPandasWithState politeness
    gate, fed round-by-round through a file source with the checkpoint
    carrying per-host state across restarts, reproduces the
    round-based oracle exactly — per-round fetch order, statuses,
    attempts, exactly-once seen/failed sets, deferral."""
    from mhtml_to_html_spark.frontier.fixtures import (
        children_of,
        host_rank,
        seed_urls,
    )
    from mhtml_to_html_spark.frontier.oracle import crawl_oracle
    from mhtml_to_html_spark.streaming.frontier import stream_frontier_fetch
    from mhtml_to_html_spark.urlnorm import is_fetchable, unwrap_urn

    SEEDS, ROUNDS, BUDGET, FANOUT, NHOSTS = seed_urls(5, 3), 4, 6, 3, 7
    oracle = crawl_oracle(SEEDS, max_rounds=ROUNDS, host_budget=BUDGET)

    src = tmp_path / "frontier_src"
    sink = str(tmp_path / "frontier_sink")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    schema = "url string, depth int, disc_seq long"

    def to_sink(df, batch_id):
        from pyspark.sql import functions as F

        df.withColumn("batch_id", F.lit(batch_id)).coalesce(1).write.mode(
            "append"
        ).parquet(sink)

    disc = 0
    rows = []
    for u in SEEDS:
        if is_fetchable(u):
            rows.append((unwrap_urn(u), 0, disc))
            disc += 1

    got_order = []
    seen_urls, failed_urls = set(), set()
    for r in range(ROUNDS):
        if not rows:
            break
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(
            str(src)
        )
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (
            stream_frontier_fetch(stream, host_budget=BUDGET)
            .writeStream.foreachBatch(to_sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        all_out = spark.read.parquet(sink)
        max_bid = all_out.agg({"batch_id": "max"}).collect()[0][0]
        out = all_out.filter(all_out.batch_id == max_bid).collect()
        fetched = sorted(
            (row for row in out if row["status"] != "deferred"),
            key=lambda row: (row["depth"], host_rank(row["host"]), row["disc_seq"]),
        )
        deferred = [row for row in out if row["status"] == "deferred"]
        for pos, row in enumerate(fetched):
            got_order.append(
                {
                    "round": r,
                    "pos": pos,
                    "url": row["key"],
                    "depth": row["depth"],
                    "status": row["status"],
                    "attempts": row["attempts"],
                }
            )
            (seen_urls if row["status"] == "ok" else failed_urls).add(row["key"])
        # feeder: children of ok fetches in (pos, child_idx) order, then
        # the deferred rows — exactly the batch round loop's next frontier
        rows = []
        # children must follow global pos order for disc_seq continuity
        for row in fetched:
            if row["status"] == "ok":
                for child in children_of(row["key"], FANOUT, NHOSTS):
                    if is_fetchable(child):
                        rows.append((child, row["depth"] + 1, disc))
                        disc += 1
        rows = [(d["url"], d["depth"], d["disc_seq"]) for d in deferred] + rows

    assert got_order == oracle.order
    assert seen_urls == oracle.seen
    assert failed_urls == oracle.failed


@pytest.mark.spark
def test_streaming_frontier_exactly_once_across_restarts(spark, tmp_path):
    """Regression: per-host seen state round-trips through Spark's
    SIGNED LongType — hashes >= 2^63 must still dedup after a query
    restart (full duplicate re-send), and urn:/non-fetchable inputs
    are unwrapped/filtered like the batch seed gate."""
    from pyspark.sql import functions as F

    from mhtml_to_html_spark.streaming.frontier import stream_frontier_fetch

    src = tmp_path / "src"
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    schema = "url string, depth int, disc_seq long"

    def to_sink(df, batch_id):
        df.withColumn("batch_id", F.lit(batch_id)).coalesce(1).write.mode(
            "append"
        ).parquet(sink)

    def run_wave(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(
            str(src)
        )
        q = (
            stream_frontier_fetch(
                spark.readStream.schema(schema).parquet(str(src)), host_budget=3
            )
            .writeStream.foreachBatch(to_sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        out = spark.read.parquet(sink)
        bid = out.agg({"batch_id": "max"}).collect()[0][0]
        return [r.asDict() for r in out.filter(out.batch_id == bid).collect()]

    # 20 URLs so both hash half-spaces (< and >= 2^63) are populated
    rows = [(f"https://h1.example.com/p{i}", 0, i) for i in range(20)]
    waves = [run_wave(rows) for _ in range(3)]  # full duplicate re-sends
    admitted = [r for w in waves for r in w if r["status"] != "deferred"]
    assert len(admitted) == len({r["key"] for r in admitted}), "a URL was refetched"
    urn_wave = run_wave(
        [("urn:x:https://h1.example.com/z", 1, 99), ("mailto:a@b", 1, 100)]
    )
    assert [(r["key"], r["status"]) for r in urn_wave] == [
        ("https://h1.example.com/z", "ok")
    ]


@pytest.mark.spark
def test_streaming_frontier_matches_oracle_with_robots(spark, tmp_path):
    """Robots + token-bucket politeness through the streaming gate:
    fed round-by-round, order/seen/failed/blocked must match the
    robots-on oracle byte-for-byte."""
    from pyspark.sql import functions as F

    from mhtml_to_html_spark.frontier.fixtures import (
        children_of,
        host_rank,
        seed_urls,
    )
    from mhtml_to_html_spark.frontier.oracle import crawl_oracle
    from mhtml_to_html_spark.streaming.frontier import stream_frontier_fetch
    from mhtml_to_html_spark.urlnorm import is_fetchable, unwrap_urn

    SEEDS, ROUNDS, BUDGET, FANOUT, NHOSTS = seed_urls(5, 3), 4, 6, 3, 7
    oracle = crawl_oracle(
        SEEDS, max_rounds=ROUNDS, host_budget=BUDGET, use_robots=True
    )

    src = tmp_path / "src"
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    schema = "url string, depth int, disc_seq long"

    def to_sink(df, batch_id):
        df.withColumn("batch_id", F.lit(batch_id)).coalesce(1).write.mode(
            "append"
        ).parquet(sink)

    disc, rows = 0, []
    for u in SEEDS:
        if is_fetchable(u):
            rows.append((unwrap_urn(u), 0, disc))
            disc += 1

    got_order, seen_urls, failed_urls, blocked_urls = [], set(), set(), set()
    for r in range(ROUNDS):
        if not rows:
            break
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(
            str(src)
        )
        q = (
            stream_frontier_fetch(
                spark.readStream.schema(schema).parquet(str(src)),
                host_budget=BUDGET,
                use_robots=True,
            )
            .writeStream.foreachBatch(to_sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        all_out = spark.read.parquet(sink)
        bid = all_out.agg({"batch_id": "max"}).collect()[0][0]
        out = all_out.filter(all_out.batch_id == bid).collect()
        fetched = sorted(
            (row for row in out if row["status"] in ("ok", "failed")),
            key=lambda row: (row["depth"], host_rank(row["host"]), row["disc_seq"]),
        )
        for pos, row in enumerate(fetched):
            got_order.append(
                {
                    "round": r,
                    "pos": pos,
                    "url": row["key"],
                    "depth": row["depth"],
                    "status": row["status"],
                    "attempts": row["attempts"],
                }
            )
            (seen_urls if row["status"] == "ok" else failed_urls).add(row["key"])
        blocked_urls |= {row["key"] for row in out if row["status"] == "blocked"}
        rows = [
            (row["url"], row["depth"], row["disc_seq"])
            for row in out
            if row["status"] == "deferred"
        ]
        for row in fetched:
            if row["status"] == "ok":
                for child in children_of(row["key"], FANOUT, NHOSTS):
                    if is_fetchable(child):
                        rows.append((child, row["depth"] + 1, disc))
                        disc += 1

    assert got_order == oracle.order
    assert seen_urls == oracle.seen
    assert failed_urls == oracle.failed
    assert blocked_urls == oracle.blocked


def test_gate_fetches_through_fetch_row(monkeypatch):
    """The gate's admitted keys run the batch crawl's fetch kernel: with
    ``fetcher="http"`` and scripted discovery, each fetched row carries
    its eligible scripted children, canonical, and an ok response with
    an empty body decodes the stand-in. Deferred rows keep their
    canonical columns and carry no children. No Spark: the admission
    kernel runs on a pandas batch."""
    import pandas as pd

    from mhtml_to_html_spark.frontier import httpclient
    from mhtml_to_html_spark.frontier.fixtures import children_of
    from mhtml_to_html_spark.frontier.seenset import url_hash64
    from mhtml_to_html_spark.frontier.spark_frontier import (
        _ADMIT_COLS,
        _CANON_COLS,
        _admission_rows,
        _admit_host_batch,
        canonical_fields,
        seed_rows,
    )
    from mhtml_to_html_spark.urlnorm import is_fetchable

    monkeypatch.setattr(
        httpclient, "fetch_url_with_retries", lambda key: ("ok", 1, 0, "text/html", b"")
    )
    FANOUT, NHOSTS, BUDGET = 4, 5, 3
    host = "host1.example.com"
    rows = seed_rows([f"https://{host}/seed/{i}" for i in range(5)])
    decoded = []
    out = _admit_host_batch(
        _admission_rows(pd.DataFrame(rows, columns=_CANON_COLS)), set(), BUDGET,
        fetcher="http", discover="scripted", fanout=FANOUT, n_hosts=NHOSTS,
        stand_in=lambda h64: decoded.append(h64) or b"",
    )
    got = [dict(zip(_ADMIT_COLS, r)) for r in out]
    assert [r["status"] for r in got] == ["ok"] * BUDGET + ["deferred"] * 2
    assert [tuple(r[c] for c in _CANON_COLS) for r in got] == rows
    for r in got[:BUDGET]:
        want = [c for c in children_of(r["key"], FANOUT, NHOSTS) if is_fetchable(c)]
        assert want
        assert r["children"] == [
            dict(zip(("url", "key", "host", "host_rank", "h64"), (c, *canonical_fields(c))))
            for c in want
        ]
    assert all(r["children"] == [] for r in got[BUDGET:])
    assert decoded == [url_hash64(r["key"]) for r in got[:BUDGET]]


@pytest.mark.spark
def test_gate_state_is_one_exact_seen_set(spark, tmp_path):
    """The gate's per-host state is ONE field, the host's exact seen
    set: after one checkpointed robots-on micro-batch, the state store
    holds ``struct<seen:array<bigint>>`` per host, and each host's
    ``seen`` is exactly the signed url_hash64 of its admitted (ok or
    failed) and blocked keys — deferred keys stay out."""
    from pyspark.sql import functions as F

    from mhtml_to_html_spark.frontier.fixtures import robots_rules
    from mhtml_to_html_spark.frontier.seenset import url_hash64
    from mhtml_to_html_spark.streaming.frontier import stream_frontier_fetch

    hosts = [f"host{i}.example.com" for i in range(200)]
    walled = next(h for h in hosts if robots_rules(h)["disallow"])
    prefix = robots_rules(walled)["disallow"]
    urls = [f"https://{h}/p{i}" for h in (hosts[0], walled) for i in range(5)]
    urls += [f"https://{walled}{prefix}/x{i}" for i in range(2)]

    src, sink, ckpt = tmp_path / "src", str(tmp_path / "sink"), str(tmp_path / "ckpt")
    schema = "url string, depth int, disc_seq long"
    spark.createDataFrame(
        [(u, 0, i) for i, u in enumerate(urls)], schema
    ).coalesce(1).write.parquet(str(src))
    q = (
        stream_frontier_fetch(
            spark.readStream.schema(schema).parquet(str(src)),
            host_budget=2,
            use_robots=True,
        )
        .writeStream.foreachBatch(lambda df, _bid: df.write.mode("append").parquet(sink))
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    out = spark.read.parquet(sink).collect()
    statuses = {r["status"] for r in out}
    assert {"blocked", "deferred"} <= statuses and statuses & {"ok", "failed"}
    want = {}
    for r in out:
        if r["status"] != "deferred":
            h = url_hash64(r["key"])
            want.setdefault(r["host"], []).append(h - (1 << 64) if h >= 1 << 63 else h)

    state = spark.read.format("statestore").load(ckpt)
    assert (
        state.schema["value"].dataType.simpleString()
        == "struct<groupState:struct<seen:array<bigint>>>"
    )
    got = {
        r["host"]: r["seen"]
        for r in state.select(
            F.col("key.host").alias("host"), F.col("value.groupState.seen").alias("seen")
        ).collect()
    }
    assert got == {h: sorted(v) for h, v in want.items()}


# The feeder numbers each round's children with the distributed
# two-pass index from ``indexing.DIST_INDEX_MIN_ROWS`` rows up and with
# one window task below it: 0 forces the first, the constant's own
# value keeps these small crawls on the second, so each parity test
# pins both round-barrier paths (and checks which one ran).
_DIST_INDEX_THRESHOLDS = (0, DIST_INDEX_MIN_ROWS)


@pytest.mark.spark
def test_stream_crawl_job_restart_parity(spark, tmp_path, monkeypatch):
    """The packaged streaming feeder job (scripts/crawl_job.py
    --streaming): run one round, STOP, resume to completion — the full
    crawl ordering must be byte-for-byte the batch oracle's, with the
    gate checkpoint carrying seen state and the feeder state carrying
    the pending frontier across the restart. Pinned on both child
    indexers."""
    from mhtml_to_html_spark.frontier.fixtures import seed_urls
    from mhtml_to_html_spark.frontier.oracle import crawl_oracle
    from mhtml_to_html_spark.streaming.feeder import (
        stream_crawl_job,
        stream_crawl_order,
    )

    SEEDS, ROUNDS, BUDGET = seed_urls(4, 2), 3, 5
    oracle = crawl_oracle(SEEDS, max_rounds=ROUNDS, host_budget=BUDGET)

    for threshold in _DIST_INDEX_THRESHOLDS:
        work = str(tmp_path / f"stream_job_{threshold}")
        with monkeypatch.context() as m:
            two_pass = two_pass_index(m, threshold)
            first = stream_crawl_job(spark, SEEDS, work, max_rounds=1, host_budget=BUDGET)
            assert len(first["rounds"]) == 1 and not first["fixpoint"]

            resumed = stream_crawl_job(
                spark, SEEDS, work, max_rounds=ROUNDS, host_budget=BUDGET, resume=True
            )
            assert resumed["rounds"][0]["round"] == 1  # continued, not restarted
        assert bool(two_pass) == (threshold == 0), threshold

        assert stream_crawl_order(spark, work) == oracle.order, threshold
        # metrics line up per round with the oracle's
        assert first["rounds"] + resumed["rounds"] == oracle.metrics, threshold


@pytest.mark.spark
def test_stream_crawl_job_resume_raises_on_missing_frontier(spark, tmp_path):
    """Honest resume: when the frontier table of the feeder's latest
    snapshot is gone, ``resume=True`` raises — it never puts an empty
    frontier in its place and reports a fixpoint."""
    import shutil

    from pyspark.errors import AnalysisException

    from mhtml_to_html_spark.frontier.fixtures import seed_urls
    from mhtml_to_html_spark.plans.catalog import SnapshotCatalog
    from mhtml_to_html_spark.streaming.feeder import stream_crawl_job

    SEEDS, work = seed_urls(4, 2), str(tmp_path / "stream_job")
    first = stream_crawl_job(spark, SEEDS, work, max_rounds=1, host_budget=5)
    assert not first["fixpoint"]
    latest = SnapshotCatalog(os.path.join(work, "feeder")).latest()
    frontier = os.path.join(
        work, "feeder", "snapshots", f"snap_{latest['snapshot_id']:06d}", "frontier"
    )
    assert latest["tables"]["frontier"]["rows"] > 0 and os.path.isdir(frontier)
    shutil.rmtree(frontier)

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        stream_crawl_job(spark, SEEDS, work, max_rounds=3, host_budget=5, resume=True)


@pytest.mark.spark
def test_stream_crawl_job_replays_a_round_whose_commit_was_lost(spark, tmp_path):
    """The at-least-once window: a crash after round 0's gate pass
    committed but before its feeder snapshot did. Resume re-runs round
    0, whose gate pass now dedups every seed, and must still take the
    next frontier and the round's metrics from both passes' sink rows:
    order and metrics rows equal the oracle's (round 0 defers nothing,
    so no row changes round)."""
    from mhtml_to_html_spark.frontier.fixtures import seed_urls
    from mhtml_to_html_spark.frontier.oracle import crawl_oracle
    from mhtml_to_html_spark.streaming.feeder import stream_crawl_job, stream_crawl_order

    SEEDS, work = seed_urls(4, 2), str(tmp_path / "stream_job")
    oracle = crawl_oracle(SEEDS, max_rounds=3, host_budget=5)
    assert oracle.metrics[0]["deferred"] == 0
    stream_crawl_job(spark, SEEDS, work, max_rounds=1, host_budget=5)
    os.remove(os.path.join(work, "feeder", "snapshots", "snap_000000", "manifest.json"))

    resumed = stream_crawl_job(spark, SEEDS, work, max_rounds=3, host_budget=5, resume=True)
    assert stream_crawl_order(spark, work) == oracle.order
    assert resumed["rounds"] == oracle.metrics


@pytest.mark.spark
def test_stream_crawl_job_robots_parity(spark, tmp_path, monkeypatch):
    """Robots-enabled streaming feeder job: blocked URLs are reported
    in metrics but get NO crawl-order position and never count as
    fetched — the full ordering and every metrics row must still match
    the batch oracle's, on both child indexers. Seeds that robots
    blocks all make a zero-fetch round, which reports no row."""
    from mhtml_to_html_spark.frontier.fixtures import seed_urls
    from mhtml_to_html_spark.frontier.oracle import crawl_oracle
    from mhtml_to_html_spark.streaming.feeder import (
        stream_crawl_job,
        stream_crawl_order,
    )

    ROUNDS, BUDGET = 3, 5
    inputs = {
        "seeds": seed_urls(4, 2),
        "all-blocked": ["https://host16.example.com/d2/x", "https://host16.example.com/d2/y"],
    }
    for name, seeds in inputs.items():
        oracle = crawl_oracle(seeds, max_rounds=ROUNDS, host_budget=BUDGET, use_robots=True)
        for threshold in _DIST_INDEX_THRESHOLDS:
            work = str(tmp_path / f"robots_job_{name}_{threshold}")
            with monkeypatch.context() as m:
                two_pass = two_pass_index(m, threshold)
                res = stream_crawl_job(
                    spark, seeds, work, max_rounds=ROUNDS, host_budget=BUDGET,
                    use_robots=True,
                )
            assert bool(two_pass) == (threshold == 0), (name, threshold)
            assert stream_crawl_order(spark, work) == oracle.order, (name, threshold)
            assert res["rounds"] == oracle.metrics, (name, threshold)


@pytest.mark.spark
def test_host_rank_col_parity(spark):
    """The feeder's JVM host-rank expression (md5 split into two
    32-bit halves folded mod 1000) must agree with the Python kernel
    ``fixtures.host_rank`` byte-for-byte — it orders parents for the
    distributed child numbering, so any divergence silently reorders
    the crawl."""
    from pyspark.sql import functions as F

    from mhtml_to_html_spark.frontier.fixtures import host_rank, host_rank_col

    hosts = (
        [f"host{i}.example.com" for i in range(50)]
        + ["127.0.0.1:8080", "a.b.c.d.example.net", "xn--bcher-kva.example", "x"]
    )
    got = {
        r["h"]: r["rank"]
        for r in spark.createDataFrame([(h,) for h in hosts], "h string")
        .select("h", host_rank_col(F.col("h")).alias("rank"))
        .collect()
    }
    assert got == {h: host_rank(h) for h in hosts}
