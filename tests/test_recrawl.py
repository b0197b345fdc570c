"""Recrawl integration: when the frontier drains with rounds left, the
stalest seen pages per host re-enter the crawl — byte-for-byte against
the oracle, including the seen-set DELETION path (counting-Bloom
decrement + cuckoo fingerprint removal) that re-admits exactly the
revisited keys through the unchanged exactly-once machinery."""

import pytest

from mhtml_to_html_spark.frontier.oracle import crawl_oracle

# hash-chain worlds that cycle fast (found by brute force): fanout=1 on
# one host drains within a few rounds, leaving room for recrawl rounds
SEEDS_1HOST = [
    "https://host0.example.com/seed/12",
    "https://host0.example.com/seed/16",
]
KW_1HOST = dict(
    max_rounds=10, host_budget=50, fanout=1, n_hosts=1, recrawl_budget=2, max_recrawls=2
)
SEEDS_2HOST = [
    f"https://host{h}.example.com/seed/{i}" for h in (0, 1) for i in (12, 16)
]
KW_2HOST = dict(
    max_rounds=12, host_budget=50, fanout=1, n_hosts=2, recrawl_budget=1, max_recrawls=1
)


def test_oracle_recrawl_semantics():
    o = crawl_oracle(SEEDS_1HOST, **KW_1HOST)
    rec_rounds = [m for m in o.metrics if m["recrawled"]]
    assert len(rec_rounds) == 2, "expected two recrawl injections"
    # revisited pages are refetched: some keys appear more than once in
    # the order, and every refetch happens in a recrawl round
    from collections import Counter

    counts = Counter(e["url"] for e in o.order)
    refetched = {u for u, c in counts.items() if c > 1}
    assert refetched, "recrawl must refetch previously-seen keys"
    rec_round_ids = {m["round"] for m in rec_rounds}
    for e in o.order:
        if counts[e["url"]] > 1 and e["round"] > 0:
            assert e["round"] in rec_round_ids or e["round"] <= max(rec_round_ids)
    # a revisit re-enters at depth 0 regardless of original depth
    for e in o.order:
        if e["round"] in rec_round_ids:
            assert e["depth"] == 0
    # zero-fetch rounds emit no metrics row (round ids have gaps)
    rounds = [m["round"] for m in o.metrics]
    assert rounds == sorted(rounds) and len(set(rounds)) == len(rounds)
    assert rounds[-1] > len(rounds) - 1, "zero-fetch round should be skipped"


def test_oracle_recrawl_picks_stalest_per_host():
    o = crawl_oracle(SEEDS_2HOST, **KW_2HOST)
    rec = [m for m in o.metrics if m["recrawled"]]
    assert len(rec) == 1 and rec[0]["recrawled"] == 2  # 1 per host, 2 hosts
    rec_round = rec[0]["round"]
    # the revisited key on each host is the stalest (earliest ok fetch,
    # ties by key) at injection time
    first_ok = {}
    for e in o.order:
        if e["round"] < rec_round and e["status"] == "ok" and e["url"] not in first_ok:
            first_ok[e["url"]] = (e["round"], e["url"])
    by_host = {}
    for url, sortkey in first_ok.items():
        host = url.split("/")[2]
        by_host.setdefault(host, []).append((sortkey, url))
    expected = {min(v)[1] for v in by_host.values()}
    revisited = {e["url"] for e in o.order if e["round"] == rec_round}
    assert revisited == expected


@pytest.mark.spark
def test_spark_matches_oracle_recrawl(spark):
    from mhtml_to_html_spark.frontier.spark_frontier import crawl_spark

    o = crawl_oracle(SEEDS_1HOST, **KW_1HOST)
    r = crawl_spark(spark, SEEDS_1HOST, collect_order=True, **KW_1HOST)
    assert r.order == o.order
    assert r.seen == o.seen and r.failed == o.failed
    assert [(m["round"], m["recrawled"]) for m in r.metrics] == [
        (m["round"], m["recrawled"]) for m in o.metrics
    ]


@pytest.mark.spark
def test_spark_matches_oracle_recrawl_distributed_index(spark, monkeypatch):
    """Force the assign_global_index / repartitionByRange physical path
    for the revisit manifest — identical logical order."""
    from mhtml_to_html_spark.frontier.spark_frontier import crawl_spark
    from tests.helpers.indexing import two_pass_index

    two_pass = two_pass_index(monkeypatch)
    o = crawl_oracle(SEEDS_2HOST, **KW_2HOST)
    r = crawl_spark(spark, SEEDS_2HOST, collect_order=True, **KW_2HOST)
    assert "rseq" in two_pass
    assert r.order == o.order
    assert r.seen == o.seen and r.failed == o.failed


def test_seenset_remove_no_false_negative_for_survivors():
    """Deleting key A from the hybrid must never make a DIFFERENT
    inserted key probe as unseen (multiset cuckoo inserts + counting
    Bloom decrements guarantee it). Runs the crawl's merge, remove and
    probe kernels in-process."""
    from tests.helpers import seenset as kernels

    keys = [f"https://h{i % 7}.example.com/p/{i}" for i in range(500)]
    blobs = kernels.merge({}, kernels.h64_of(keys), 4, 1 << 12, 1 << 8)
    removed = keys[::3]
    blobs = kernels.remove(blobs, kernels.h64_of(removed), 4)
    survivors = [k for k in keys if k not in removed]
    seen = kernels.probe(blobs, kernels.h64_of(survivors), 4)
    for k, hit in zip(survivors, seen):
        assert hit, f"false negative for surviving key {k}"


@pytest.mark.spark
def test_recrawl_budget_survives_resume(spark, tmp_path):
    """max_recrawls must bind ACROSS resume: a crawl checkpointed after
    its injection and resumed must not inject again — the resumed run
    reproduces the uninterrupted schedule byte-for-byte."""
    from mhtml_to_html_spark.frontier.spark_frontier import crawl_spark

    kw = dict(
        max_rounds=10, host_budget=50, fanout=1, n_hosts=1,
        recrawl_budget=2, max_recrawls=1,
    )
    o = crawl_oracle(SEEDS_1HOST, **kw)
    rec_rounds = [m["round"] for m in o.metrics if m["recrawled"]]
    assert rec_rounds == [3], "fixture: single injection at round 3"
    ckpt = str(tmp_path / "ckpt")
    # stop right AFTER the injection round is checkpointed...
    crawl_spark(spark, SEEDS_1HOST, checkpoint_dir=ckpt, **{**kw, "max_rounds": 4})
    # ...and resume: recrawls_done must come back as 1 (no 2nd injection)
    r = crawl_spark(spark, SEEDS_1HOST, checkpoint_dir=ckpt, resume=True, collect_order=True, **kw)
    assert r.order == o.order
    assert r.seen == o.seen and r.failed == o.failed
    assert [m["recrawled"] for m in r.metrics] == [m["recrawled"] for m in o.metrics]
