"""Politeness-debt budget boost (opt-in): a host whose queue
overflowed last round gets base + min(debt, base) budget this round —
bounded 2x, pure function of last round's observed counts, identical
in the pure-Python oracle and the Spark loop."""

import pytest

from mhtml_to_html_spark.frontier.fixtures import seed_urls
from mhtml_to_html_spark.frontier.oracle import crawl_oracle

SEEDS = seed_urls(4, 2)
KW = dict(max_rounds=4, host_budget=2, fanout=3, n_hosts=4)


def test_oracle_debt_boost_clears_backlog_faster():
    plain = crawl_oracle(SEEDS, **KW)
    boosted = crawl_oracle(SEEDS, debt_boost=True, **KW)
    assert len(boosted.order) > len(plain.order)
    # per-round fetch count never exceeds hosts * 2 * budget (bound)
    hosts = {e["url"].split("/")[2] for e in boosted.order}
    for m in boosted.metrics:
        assert m["fetched"] <= len(hosts) * 2 * KW["host_budget"]
    # round 0 has no history: identical schedules
    r0_plain = [e for e in plain.order if e["round"] == 0]
    r0_boost = [e for e in boosted.order if e["round"] == 0]
    assert r0_plain == r0_boost


def test_oracle_debt_resets_every_round():
    """Debt is LAST round's overflow only — it does not accumulate: a
    host with no overflow in round r gets plain budget in r+1."""
    boosted = crawl_oracle(SEEDS, debt_boost=True, **KW)
    from collections import Counter

    per_round_host = {}
    for e in boosted.order:
        per_round_host.setdefault(e["round"], Counter())[e["url"].split("/")[2]] += 1
    for r, counts in per_round_host.items():
        for host, n in counts.items():
            assert n <= 2 * KW["host_budget"]


@pytest.mark.spark
def test_spark_matches_oracle_debt_boost(spark):
    from mhtml_to_html_spark.frontier.spark_frontier import crawl_spark

    o = crawl_oracle(SEEDS, debt_boost=True, **KW)
    r = crawl_spark(spark, SEEDS, debt_boost=True, collect_order=True, **KW)
    assert r.order == o.order
    assert r.seen == o.seen and r.failed == o.failed


@pytest.mark.spark
def test_spark_debt_boost_resumes_from_snapshot(spark, tmp_path):
    """The debt table rides snapshots: a crawl stopped mid-way and
    resumed must produce the same schedule as one uninterrupted run."""
    from mhtml_to_html_spark.frontier.spark_frontier import crawl_spark

    o = crawl_oracle(SEEDS, debt_boost=True, **KW)
    ckpt = str(tmp_path / "ckpt")
    crawl_spark(
        spark, SEEDS, debt_boost=True, checkpoint_dir=ckpt,
        **{**KW, "max_rounds": 2},
    )
    r = crawl_spark(
        spark, SEEDS, debt_boost=True, checkpoint_dir=ckpt, resume=True,
        collect_order=True, **KW
    )
    assert r.order == o.order
    assert r.seen == o.seen and r.failed == o.failed


@pytest.mark.spark
@pytest.mark.parametrize("damage", ["deleted", "corrupt"])
@pytest.mark.parametrize("table", ["debt", "done"])
def test_spark_debt_boost_resume_fails_without_debt_table(spark, tmp_path, table, damage):
    """A snapshot whose debt table (or done table, the crawl's key
    state) is gone or unreadable must not resume: carrying on with an
    empty table would silently diverge from the uninterrupted
    schedule."""
    import glob
    import os

    from py4j.protocol import Py4JJavaError
    from pyspark.errors import AnalysisException

    from mhtml_to_html_spark.frontier.spark_frontier import crawl_spark
    from mhtml_to_html_spark.plans.catalog import SnapshotCatalog

    ckpt = str(tmp_path / "ckpt")
    crawl_spark(
        spark, SEEDS, debt_boost=True, checkpoint_dir=ckpt,
        **{**KW, "max_rounds": 2},
    )
    latest = SnapshotCatalog(ckpt).latest()["snapshot_id"]
    files = glob.glob(
        os.path.join(ckpt, "snapshots", f"snap_{latest:06d}", table, "*.parquet")
    )
    assert files
    for f in files:
        if damage == "deleted":
            os.remove(f)
        else:
            with open(f, "wb") as fh:
                fh.write(b"not a parquet file")
    # a missing table fails schema inference; a corrupt one fails the
    # footer read of the same load
    with pytest.raises((AnalysisException, Py4JJavaError)):
        crawl_spark(
            spark, SEEDS, debt_boost=True, checkpoint_dir=ckpt, resume=True,
            collect_order=True, **KW
        )
