"""Crawl-ordering equality: the Spark frontier must reproduce the
pure-Python oracle byte-for-byte — fetch sequence, seen-set, failed
set — under the same seeds and politeness budget (BASELINE.json
north_rule), and resume from a checkpoint to the identical state."""

import pytest

from mhtml_to_html_spark.frontier.fixtures import fetch_with_retries, seed_urls
from mhtml_to_html_spark.frontier.oracle import crawl_oracle

SEEDS = seed_urls(5, 3)
MAX_ROUNDS = 4
BUDGET = 6


@pytest.fixture(scope="module")
def oracle_result():
    return crawl_oracle(SEEDS, max_rounds=MAX_ROUNDS, host_budget=BUDGET)


def test_oracle_deterministic(oracle_result):
    again = crawl_oracle(SEEDS, max_rounds=MAX_ROUNDS, host_budget=BUDGET)
    assert again.order == oracle_result.order
    assert again.seen == oracle_result.seen
    assert again.failed == oracle_result.failed


def test_oracle_exactly_once(oracle_result):
    urls = [o["url"] for o in oracle_result.order]
    assert len(urls) == len(set(urls)), "a URL was fetched twice"


def test_oracle_retry_budget(oracle_result):
    assert all(o["attempts"] <= 3 for o in oracle_result.order)
    # transient outcomes exist in the mix
    assert any(o["attempts"] > 1 for o in oracle_result.order)
    assert any(o["status"] == "failed" for o in oracle_result.order)


def test_politeness_budget(oracle_result):
    from mhtml_to_html_spark.urlnorm import url_host

    per_round_host: dict = {}
    for o in oracle_result.order:
        key = (o["round"], url_host(o["url"]))
        per_round_host[key] = per_round_host.get(key, 0) + 1
    assert max(per_round_host.values()) <= BUDGET


def test_retry_after_cap_gives_up_immediately():
    # find a fixture URL scripted with Retry-After > 5000ms
    from mhtml_to_html_spark.frontier.fixtures import fetch_double

    url = next(
        f"https://capped{i}.example.com/x"
        for i in range(500)
        if fetch_double(f"https://capped{i}.example.com/x", 0).get("retry_after") == "99"
    )
    status, attempts, delay = fetch_with_retries(url)
    assert status == "failed" and attempts == 1 and delay == 0


@pytest.mark.spark
def test_spark_matches_oracle(spark, oracle_result, tmp_path):
    from mhtml_to_html_spark.frontier.spark_frontier import crawl_spark

    res = crawl_spark(
        spark,
        SEEDS,
        max_rounds=MAX_ROUNDS,
        host_budget=BUDGET,
        checkpoint_dir=str(tmp_path / "ckpt"),
        collect_order=True,
    )
    assert res.order == oracle_result.order, "crawl ordering diverged from the oracle"
    assert res.seen == oracle_result.seen
    assert res.failed == oracle_result.failed
    assert [
        {k: m[k] for k in ("round", "fetched", "ok", "failed", "attempts", "deferred")}
        for m in res.metrics
    ] == [
        {k: m[k] for k in ("round", "fetched", "ok", "failed", "attempts", "deferred")}
        for m in oracle_result.metrics
    ]


@pytest.mark.spark
@pytest.mark.parametrize(
    "use_robots",
    [
        pytest.param(False, id="robots-off"),
        # robots on with hash (not broadcast) joins: the seen anti-join
        # and the robots-cache join each shuffle both sides
        pytest.param(True, id="robots-hash-join"),
    ],
)
def test_spark_matches_oracle_with_range_partitioning(
    spark, oracle_result, use_robots, monkeypatch
):
    """The distributed-index physical path (forced on: the two-pass
    range-partitioned global index for fetch positions and discovery
    sequence numbers) must not change the logical crawl order."""
    from mhtml_to_html_spark.frontier import spark_frontier
    from tests.helpers.indexing import two_pass_index

    two_pass = two_pass_index(monkeypatch)
    if use_robots:
        monkeypatch.setattr(spark_frontier, "BROADCAST_MAX_ROWS", 0)
    oracle = (
        crawl_oracle(SEEDS, max_rounds=MAX_ROUNDS, host_budget=BUDGET, use_robots=True)
        if use_robots
        else oracle_result
    )
    res = spark_frontier.crawl_spark(
        spark,
        SEEDS,
        max_rounds=MAX_ROUNDS,
        host_budget=BUDGET,
        collect_order=True,
        use_robots=use_robots,
    )
    assert {"pos", "disc_seq"} <= set(two_pass)
    assert res.order == oracle.order
    assert res.seen == oracle.seen
    assert res.failed == oracle.failed
    assert res.blocked == oracle.blocked


def test_oracle_robots_blocks_and_throttles():
    res = crawl_oracle(SEEDS, max_rounds=MAX_ROUNDS, host_budget=BUDGET, use_robots=True)
    plain = crawl_oracle(SEEDS, max_rounds=MAX_ROUNDS, host_budget=BUDGET)
    # robots world fetches no blocked URL and respects per-host budgets
    assert res.blocked.isdisjoint(res.seen | res.failed)
    assert res.order != plain.order or res.blocked == set()


@pytest.mark.spark
def test_spark_matches_oracle_with_robots(spark, tmp_path):
    """Robots gate + token-bucket crawl delay: Spark must match the
    oracle's ordering, seen/failed/blocked sets, and survive resume."""
    from mhtml_to_html_spark.frontier.spark_frontier import crawl_spark

    oracle = crawl_oracle(SEEDS, max_rounds=MAX_ROUNDS, host_budget=BUDGET, use_robots=True)
    res = crawl_spark(
        spark,
        SEEDS,
        max_rounds=MAX_ROUNDS,
        host_budget=BUDGET,
        use_robots=True,
        checkpoint_dir=str(tmp_path / "robots_ckpt"),
        collect_order=True,
    )
    assert res.order == oracle.order
    assert res.seen == oracle.seen
    assert res.failed == oracle.failed
    assert res.blocked == oracle.blocked
    # resume mid-crawl reproduces the same world
    ckpt2 = str(tmp_path / "robots_resume")
    crawl_spark(
        spark, SEEDS, max_rounds=2, host_budget=BUDGET, use_robots=True,
        checkpoint_dir=ckpt2, collect_order=False,
    )
    resumed = crawl_spark(
        spark, SEEDS, max_rounds=MAX_ROUNDS, host_budget=BUDGET, use_robots=True,
        checkpoint_dir=ckpt2, resume=True, collect_order=True,
    )
    assert resumed.order == oracle.order
    assert resumed.blocked == oracle.blocked


@pytest.mark.spark
@pytest.mark.parametrize("batch_rows", [2, 3])
def test_spark_matches_oracle_with_hosts_spanning_arrow_batches(spark, batch_rows):
    """The round kernel walks host runs of Arrow batches: with batches of
    2 or 3 rows nearly every host's run straddles batches, so its rows
    are carried into the next batch (and the partition's last host is
    finished after the last batch). A robots-on, debt-boost crawl must
    still match the oracle's order and seen, failed and blocked sets."""
    from mhtml_to_html_spark.frontier.spark_frontier import crawl_spark

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(conf, None)
    kw = dict(max_rounds=MAX_ROUNDS, host_budget=2, use_robots=True, debt_boost=True)
    # host16's robots.txt disallows /d2, where its root pages link
    seeds = SEEDS + [f"https://host16.example.com/{p}" for p in "abc"]
    oracle = crawl_oracle(seeds, **kw)
    spark.conf.set(conf, str(batch_rows))
    try:
        res = crawl_spark(spark, seeds, collect_order=True, **kw)
    finally:
        if saved is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, saved)
    assert any(m["deferred"] for m in res.metrics)
    assert res.order == oracle.order
    assert res.seen == oracle.seen
    assert res.failed == oracle.failed
    assert res.blocked == oracle.blocked and res.blocked


@pytest.mark.spark
def test_spark_resume_from_checkpoint(spark, oracle_result, tmp_path):
    from mhtml_to_html_spark.frontier.spark_frontier import crawl_spark

    ckpt = str(tmp_path / "resume_ckpt")
    # run only the first 2 rounds, then resume for the rest
    partial = crawl_spark(
        spark, SEEDS, max_rounds=2, host_budget=BUDGET, checkpoint_dir=ckpt, collect_order=False
    )
    assert partial.snapshots, "no snapshot written"
    resumed = crawl_spark(
        spark,
        SEEDS,
        max_rounds=MAX_ROUNDS,
        host_budget=BUDGET,
        checkpoint_dir=ckpt,
        resume=True,
        collect_order=True,
    )
    assert resumed.order == oracle_result.order, "resumed crawl diverged"
    assert resumed.seen == oracle_result.seen
    assert resumed.failed == oracle_result.failed


@pytest.mark.spark
def test_spark_matches_oracle_with_forced_probe_path(spark, oracle_result):
    """The sharded Bloom+cuckoo probe path (forced on at any size) must
    not change the crawl: exactly-once, ordering, seen/failed all
    byte-identical to the oracle."""
    from mhtml_to_html_spark.frontier.spark_frontier import crawl_spark

    res = crawl_spark(
        spark,
        SEEDS,
        max_rounds=MAX_ROUNDS,
        host_budget=BUDGET,
        probe_threshold=0,
        collect_order=True,
    )
    assert res.order == oracle_result.order
    assert res.seen == oracle_result.seen
    assert res.failed == oracle_result.failed


@pytest.mark.spark
def test_saturated_filters_never_drop_urls(spark, oracle_result, monkeypatch):
    """The false-positive-free contract: with absurdly undersized
    filters (every probe answers maybe-seen) the exact anti-join still
    keeps the crawl byte-identical — the filter is an accelerator,
    never the source of truth."""
    from mhtml_to_html_spark.frontier import spark_frontier

    monkeypatch.setattr(spark_frontier, "SEEN_SHARDS", 2)
    monkeypatch.setattr(spark_frontier, "SEEN_BLOOM_BITS", 64)
    monkeypatch.setattr(spark_frontier, "SEEN_CUCKOO_BUCKETS", 8)
    res = spark_frontier.crawl_spark(
        spark,
        SEEDS,
        max_rounds=MAX_ROUNDS,
        host_budget=BUDGET,
        probe_threshold=0,
        collect_order=True,
    )
    assert res.order == oracle_result.order
    assert res.seen == oracle_result.seen
    assert res.failed == oracle_result.failed


@pytest.mark.spark
def test_plan_recrawl_budget_and_staleness(spark):
    """Recrawl planner: per-host budget respected, stalest first,
    deterministic tie-break, and the rank filter plans as a window
    group limit (per-partition top-N, no full per-host sort)."""
    from pyspark.sql import functions as F

    from mhtml_to_html_spark.frontier.spark_frontier import plan_recrawl
    from test_plans import plan_of

    rows = [
        (f"https://a.example.com/{i}", "a.example.com", i % 3) for i in range(9)
    ] + [("https://b.example.com/0", "b.example.com", 7)]
    seen = spark.createDataFrame(rows, "key string, host string, fetched_round long")
    got = plan_recrawl(seen, host_budget=2).collect()
    by_host = {}
    for r in got:
        by_host.setdefault(r["host"], []).append(r)
    assert len(by_host["a.example.com"]) == 2
    assert len(by_host["b.example.com"]) == 1
    # stalest (round 0) first for host a, tie by key: /0 then /3
    a = sorted(by_host["a.example.com"], key=lambda r: r["rk"])
    assert [r["key"] for r in a] == ["https://a.example.com/0", "https://a.example.com/3"]
    assert a[0]["age"] == 8  # now = max(7)+1, fetched_round 0
    plan = plan_of(plan_recrawl(seen, host_budget=2))
    assert "WindowGroupLimit" in plan


@pytest.mark.spark
def test_robots_cache_holds_each_host_once(spark, tmp_path):
    """The round kernel emits a robots cache row only for a host it
    meets for the first time: after a checkpointed robots-on crawl the
    snapshot's cache holds every host the crawl met exactly once, with
    its ``robots_rules``, and the crawl matches the oracle."""
    from mhtml_to_html_spark.frontier.fixtures import robots_rules
    from mhtml_to_html_spark.frontier.spark_frontier import crawl_spark
    from mhtml_to_html_spark.plans.catalog import SnapshotCatalog
    from mhtml_to_html_spark.urlnorm import url_host

    oracle = crawl_oracle(SEEDS, max_rounds=MAX_ROUNDS, host_budget=BUDGET, use_robots=True)
    ckpt = str(tmp_path / "ckpt")
    res = crawl_spark(
        spark, SEEDS, max_rounds=MAX_ROUNDS, host_budget=BUDGET,
        use_robots=True, checkpoint_dir=ckpt, collect_order=True,
    )
    assert res.order == oracle.order
    assert res.seen == oracle.seen
    assert res.failed == oracle.failed
    assert res.blocked == oracle.blocked
    catalog = SnapshotCatalog(ckpt)
    cache = catalog.load_table(spark, catalog.latest()["snapshot_id"], "robots").collect()
    hosts = [r["host"] for r in cache]
    assert len(hosts) == len(set(hosts))
    met = {url_host(k) for k in oracle.seen | oracle.failed | oracle.blocked}
    assert met <= set(hosts)
    for r in cache:
        rules = robots_rules(r["host"])
        assert (r["disallow"], r["crawl_delay_level"]) == (
            rules["disallow"], rules["crawl_delay_level"]
        )


def _job_groups(spark) -> dict[int, str | None]:
    """Job group of every job the status store holds, by job id, once
    the listener bus has delivered them."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    groups = {}
    for j in (jobs.apply(i) for i in range(jobs.size())):
        group = j.jobGroup()
        groups[j.jobId()] = group.get() if group.isDefined() else None
    return groups


@pytest.mark.spark
def test_crawl_jobs_run_in_round_step_groups(spark, tmp_path):
    """Every Spark job of a two-round crawl runs in a job group
    ``crawl:r<round>:<step>`` of a known step, each round's kernel
    among them; the caller's job group is back on return, so a job the
    caller runs afterwards carries no ``crawl:`` group. A resumed crawl
    reads its snapshot in the first resumed round's ``recrawl`` step,
    not in the caller's group, and runs no job for it."""
    import re

    from mhtml_to_html_spark.frontier.spark_frontier import crawl_spark

    sc = spark.sparkContext
    step_group = re.compile(r"crawl:r[01]:(recrawl|prune|kernel|index|discover|commit)")
    before = set(_job_groups(spark))
    sc.setJobGroup("caller", "a caller's job group")
    try:
        res = crawl_spark(
            spark, SEEDS, max_rounds=2, host_budget=BUDGET, use_robots=True, collect_order=True
        )
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
        spark.range(3).collect()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    assert len(res.metrics) == 2
    groups = {i: g for i, g in _job_groups(spark).items() if i not in before}
    last = max(groups)
    assert groups.pop(last) == "caller"
    assert groups and all(g is not None and step_group.fullmatch(g) for g in groups.values())
    assert {"crawl:r0:kernel", "crawl:r1:kernel"} <= set(groups.values())

    # a caller with no job group gets none back
    crawl_spark(spark, SEEDS, max_rounds=1, host_budget=BUDGET)
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    before = set(_job_groups(spark))
    spark.range(3).collect()
    after = {i: g for i, g in _job_groups(spark).items() if i not in before}
    assert after and set(after.values()) == {None}

    # resume with no round left: the snapshot loads run no job, so only
    # the final collect_order reads run, in round 2's commit step
    ckpt = str(tmp_path / "ckpt")
    kw = dict(max_rounds=2, host_budget=BUDGET, use_robots=True, checkpoint_dir=ckpt)
    crawl_spark(spark, SEEDS, **kw)
    before = set(_job_groups(spark))
    sc.setJobGroup("caller", "a caller's job group")
    try:
        resumed = crawl_spark(spark, SEEDS, resume=True, collect_order=True, **kw)
        spark.range(3).collect()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    assert resumed.order == res.order and len(resumed.metrics) == 2
    groups = {i: g for i, g in _job_groups(spark).items() if i not in before}
    assert groups.pop(max(groups)) == "caller"
    assert groups and all(
        g is not None and re.fullmatch(r"crawl:r2:(recrawl|commit)", g) for g in groups.values()
    )
    assert "crawl:r2:recrawl" not in groups.values()


def _sql_plans(spark) -> dict[int, str]:
    """Physical plan of every SQL execution the status store holds, by
    execution id, once the listener bus has delivered them."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return {
        e.executionId(): e.physicalPlanDescription()
        for e in (execs.apply(i) for i in range(execs.size()))
    }


@pytest.mark.spark
def test_crawl_scans_no_python_rdd(spark):
    """Driver-built frames (seeds, empty state tables) are Arrow
    LocalRelations: no execution of a robots-on crawl scans a Python
    RDD (``Scan ExistingRDD`` over ``applySchemaToPythonRDD``; the
    crawl's own local checkpoints also plan as ``Scan ExistingRDD``),
    and empty state is pruned from the seen anti-join."""
    import re

    from mhtml_to_html_spark.frontier.spark_frontier import crawl_spark, local_frame

    before = set(_sql_plans(spark))
    res = crawl_spark(spark, SEEDS, max_rounds=2, host_budget=BUDGET, use_robots=True)
    assert res.metrics
    plans = [p for i, p in _sql_plans(spark).items() if i not in before]
    assert plans
    rdd_scans = [
        args
        for plan in plans
        for args in re.findall(
            r"\(\d+\) Scan ExistingRDD[^\n]*\n(?:[^\n]+\n)*?Arguments: ([^\n]*)", plan
        )
    ]
    foreign = [a for a in rdd_scans if "at localCheckpoint" not in a]
    assert not foreign, f"a crawl execution scans a non-checkpoint RDD: {foreign[:2]}"

    empty = local_frame(spark, [], "key string, h64 long")
    assert "LocalTableScan <empty>" in empty._jdf.queryExecution().executedPlan().toString()
    x = local_frame(spark, [("a", 1), ("b", 2)], "key string, h64 long")
    seen_all = empty.unionByName(empty).unionByName(empty)
    pruned = x.join(seen_all.select("key"), "key", "left_anti")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan == x._jdf.queryExecution().executedPlan().toString()


@pytest.mark.spark
def test_crawl_runs_no_canonicalize_pass_and_fetches_in_whole_waves(spark, tmp_path):
    """Frontier rows are canonical from birth: no execution of a fresh,
    checkpointed, resumed or recrawling crawl runs
    ``_canonicalize_batches``. Each round admits and fetches in ONE
    pandas stage, the host kernel, dealt by host into whole waves of
    the session's slots and sorted on host within each partition: a
    fresh crawl whose rounds fit one wave runs exactly one
    ``MapInPandas`` kernel execution per round, each over a
    ``hashpartitioning(host, slots)`` exchange and a sort on host, and
    no other Python operator (no per-host ``FlatMapGroupsInPandas``).
    The streaming feeder's micro-batch runs one Python operator, the
    gate; only the raw-URL ``stream_frontier_fetch`` canonicalizes
    ahead of it."""
    import contextlib
    import io
    import re

    from mhtml_to_html_spark.frontier.spark_frontier import crawl_spark
    from mhtml_to_html_spark.streaming.feeder import stream_crawl_job
    from mhtml_to_html_spark.streaming.frontier import stream_frontier_fetch

    slots = spark.sparkContext.defaultParallelism
    seeds = seed_urls(40, 4)
    kw = dict(host_budget=BUDGET, n_hosts=40, use_robots=True)
    before = set(_sql_plans(spark))
    fresh = crawl_spark(spark, seeds, max_rounds=2, **kw)
    # round 1 alone is more rows than slots × 24, so a rows-per-task
    # sizing rule would have spread it past one wave
    assert fresh.metrics[0]["fetched"] > slots * 24
    fresh_plans = [p for i, p in _sql_plans(spark).items() if i not in before]
    kernel_plans = [p for p in fresh_plans if "round_kernel(" in p]
    assert len(kernel_plans) == len(fresh.metrics) == 2
    for p in kernel_plans:
        assert re.search(r"\) MapInPandas\nInput \[\d+\]: .*\nArguments: round_kernel\(", p)
        dealt = set(re.findall(r"hashpartitioning\((host#\d+), (\d+)\), REPARTITION_BY_NUM", p))
        assert {n for _, n in dealt} == {str(slots)}
        # the partition-local sort on the dealt host column, no global sort
        sorted_on = re.findall(
            r"\) Sort\b.*\nInput \[\d+\]: .*\nArguments: \[(host#\d+) ASC NULLS FIRST\], false", p
        )
        assert sorted_on and set(sorted_on) == {h for h, _ in dealt}
    python_ops = {
        op for p in fresh_plans for op in re.findall(r"\b(\w*InPandas\w*|BatchEvalPython)\b", p)
    }
    assert python_ops == {"MapInPandas"}

    ckpt = str(tmp_path / "ckpt")
    crawl_spark(spark, seeds, max_rounds=1, checkpoint_dir=ckpt, **kw)
    resumed = crawl_spark(spark, seeds, max_rounds=2, checkpoint_dir=ckpt, resume=True, **kw)
    assert resumed.metrics == fresh.metrics
    # a one-host chain that drains early, so recrawl rows are injected
    recrawled = crawl_spark(
        spark,
        ["https://host0.example.com/seed/12", "https://host0.example.com/seed/16"],
        max_rounds=10, host_budget=50, fanout=1, n_hosts=1, recrawl_budget=2, max_recrawls=2,
    )
    assert any(m["recrawled"] for m in recrawled.metrics)

    plans = [p for i, p in _sql_plans(spark).items() if i not in before]
    # positive control: plan descriptions name the Python functions
    assert any("round_kernel(" in p for p in plans)
    assert not [p for p in plans if "_canonicalize_batches" in p]

    before = set(_sql_plans(spark))
    stream_crawl_job(spark, seeds[:8], str(tmp_path / "stream"), max_rounds=1, **kw)
    gate_plans = [
        p
        for i, p in _sql_plans(spark).items()
        if i not in before and "FlatMapGroupsInPandasWithState" in p
    ]
    assert gate_plans
    assert not [p for p in gate_plans if "MapInPandas" in p.replace("FlatMapGroupsInPandas", "")]
    raw = stream_frontier_fetch(
        spark.readStream.schema("url string, depth int, disc_seq long").parquet(
            str(tmp_path / "stream" / "src")
        )
    )
    with contextlib.redirect_stdout(io.StringIO()) as out:
        raw.explain()
    raw_plan = out.getvalue()
    assert "MapInPandas _canonicalize_batches" in raw_plan
    assert raw_plan.index("FlatMapGroupsInPandasWithState") < raw_plan.index("MapInPandas")


def test_fetch_children_match_canonicalize_pass(monkeypatch):
    """The admission kernel's canonical child structs equal the
    canonicalize pass's row for each child URL — scripted children, and
    links parsed out of a fetched archive — so both sites share one
    canonicalization. No Spark: the kernel and the UDF body run on
    pandas batches."""
    import pandas as pd

    from mhtml_to_html_spark.frontier import httpclient
    from mhtml_to_html_spark.frontier.spark_frontier import (
        _ADMIT_COLS,
        _CANON_COLS,
        _admission_rows,
        _admit_host_batch,
        extract_links,
        seed_rows,
    )
    from mhtml_to_html_spark.streaming.frontier import _canonicalize_batches
    from mhtml_to_html_spark.urlnorm import canonicalize_url

    def canonical_rows(urls):
        pdf = pd.DataFrame({"url": urls, "depth": 1, "disc_seq": range(len(urls))})
        (out,) = _canonicalize_batches(iter([pdf]))
        return out[["url", "key", "host", "host_rank", "h64"]].to_dict("records")

    def children(keys, **kw):
        rows = pd.DataFrame(seed_rows(keys), columns=_CANON_COLS)
        out = pd.DataFrame(
            _admit_host_batch(_admission_rows(rows), set(), len(keys), **kw), columns=_ADMIT_COLS
        )
        assert (out["status"] != "deferred").all()
        return [c for kids in out["children"] for c in kids]

    scripted = children([canonicalize_url(u) for u in SEEDS], fanout=3, n_hosts=5)
    assert len(scripted) > len(SEEDS)
    assert scripted == canonical_rows([c["url"] for c in scripted])

    links = [
        "HTTPS://Host1.Example.COM:443/a/../b/%7Euser",
        "c/./d?x=1",
        "mailto:someone@example.com",
        "http://host2.example.com:80/seed/%41",
        "//host3.example.com/",
    ]
    anchors = "".join(f'<a href="{u}">x</a>' for u in links)
    archive = (
        'MIME-Version: 1.0\r\nContent-Type: multipart/related; boundary="B1"\r\n\r\n'
        "--B1\r\nContent-Type: text/html; charset=utf-8\r\n"
        "Content-Location: https://host0.example.com/dir/page\r\n\r\n"
        f"<html><body>{anchors}</body></html>\r\n--B1--\r\n"
    ).encode()
    monkeypatch.setattr(
        httpclient,
        "fetch_url_with_retries",
        lambda key: ("ok", 1, 0, "multipart/related", archive),
    )
    parsed = children(["https://host0.example.com/dir/page"], fetcher="http", discover="parse")
    assert [c["url"] for c in parsed] == extract_links(archive)
    assert len(parsed) == 4
    assert parsed == canonical_rows([c["url"] for c in parsed])
