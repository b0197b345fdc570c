"""The admission core both crawls run (``spark_frontier._admission_rows``
then ``_admit_host_batch``) and the batch round's kernel
(``_round_kernel``), on pandas frames for one host, no Spark.
Each expectation follows ``crawl_oracle``'s rules: first discovery
wins, a robots-disallowed key is blocked once, the crawl-delay level
scales the token budget, the debt boost adds at most one more budget,
and overflow defers in (depth, host_rank, disc_seq) order."""

import pandas as pd

from mhtml_to_html_spark.frontier.fixtures import (
    host_token_budget,
    robots_allows,
    robots_rules,
)
from mhtml_to_html_spark.frontier.spark_frontier import (
    _ADMIT_COLS,
    _CANON_COLS,
    _KERNEL_COLS,
    _admission_rows,
    _admit_host_batch,
    _round_kernel,
    canonical_fields,
)

HOST = "host1.example.com"


def rows(*specs, host=HOST):
    """Canonical rows ``(url, depth, disc_seq, key, host, host_rank,
    h64)`` of ``(path, depth, disc_seq)`` specs on ``host``."""
    out = []
    for path, depth, seq in specs:
        url = f"https://{host}/{path}"
        out.append((url, depth, seq, *canonical_fields(url)))
    return pd.DataFrame(out, columns=_CANON_COLS)


def admit(batch, budget, rules=None, debt=0):
    out = _admit_host_batch(_admission_rows(batch), set(), budget, rules, debt)
    return [dict(zip(_ADMIT_COLS, r)) for r in out]


def fetched(out):
    return [r for r in out if r["status"] in ("ok", "failed")]


def test_min_disc_seq_wins_over_a_better_priority_duplicate():
    # the backlog row (disc_seq 3, depth 2) and a later rediscovery of
    # the same key at depth 1: the rediscovery sorts first by priority,
    # but first discovery wins, as in the oracle's frontier walk
    batch = rows(("p/a", 2, 3), ("p/b", 1, 5), ("p/a", 1, 9), ("p/a", 3, 12))
    out = admit(batch, budget=8)
    got = [(r["url"], r["depth"], r["disc_seq"]) for r in out]
    assert got == [(f"https://{HOST}/p/b", 1, 5), (f"https://{HOST}/p/a", 2, 3)]
    assert all(r["status"] in ("ok", "failed") for r in out)


def test_disallowed_key_twice_is_blocked_once_and_spends_no_budget():
    rules = {"disallow": "/private", "crawl_delay_level": 0}
    batch = rows(("private/x", 1, 4), ("open/y", 1, 6), ("private/x", 1, 8), ("open/z", 1, 9))
    out = admit(batch, budget=2, rules=rules)
    blocked = [r for r in out if r["status"] == "blocked"]
    assert [(r["url"], r["disc_seq"]) for r in blocked] == [(f"https://{HOST}/private/x", 4)]
    assert blocked[0]["children"] == [] and blocked[0]["attempts"] == 0
    # the blocked row took no token: both allowed keys fetch
    assert [r["url"] for r in fetched(out)] == [
        f"https://{HOST}/open/y", f"https://{HOST}/open/z"
    ]


def test_crawl_delay_level_halves_the_budget():
    batch = rows(*((f"p/{i}", 1, i) for i in range(6)))
    for level, want in ((0, 4), (1, 2), (3, 1)):
        out = admit(batch, budget=4, rules={"disallow": None, "crawl_delay_level": level})
        assert len(fetched(out)) == want
        assert [r["status"] for r in out[want:]] == ["deferred"] * (6 - want)


def test_debt_boost_is_capped_at_twice_the_budget():
    batch = rows(*((f"p/{i}", 1, i) for i in range(10)))
    for debt, want in ((0, 2), (1, 3), (2, 4), (5, 4)):
        assert len(fetched(admit(batch, budget=2, debt=debt))) == want
    # the boost stacks on the crawl-delay budget: level 1 halves 4 to 2,
    # and a debt of 7 adds at most those 2
    rules = {"disallow": None, "crawl_delay_level": 1}
    assert len(fetched(admit(batch, budget=4, rules=rules, debt=7))) == 4


def test_deferred_rows_keep_priority_order_and_their_columns():
    batch = rows(("c", 2, 1), ("a", 1, 7), ("d", 3, 0), ("b", 1, 2), ("e", 2, 5))
    out = admit(batch, budget=1)
    assert fetched(out)[0]["url"] == f"https://{HOST}/b"
    deferred = [r for r in out if r["status"] == "deferred"]
    assert [(r["depth"], r["disc_seq"]) for r in deferred] == [(1, 7), (2, 1), (2, 5), (3, 0)]
    by_url = batch.set_index("url")
    for r in deferred:
        assert r["children"] == []
        assert r["h64"] == by_url.loc[r["url"], "h64"]


def test_kernel_rules_match_the_oracle_fixtures():
    """With a host's own robots rules the kernel blocks exactly the keys
    ``robots_allows`` rejects and fetches ``host_token_budget`` keys."""
    host = next(
        f"host{i}.example.com"
        for i in range(200)
        if robots_rules(f"host{i}.example.com")["disallow"]
        and robots_rules(f"host{i}.example.com")["crawl_delay_level"]
    )
    prefix = robots_rules(host)["disallow"].strip("/")
    batch = rows(*((f"{prefix}/{i}" if i % 3 == 0 else f"ok/{i}", 1, i) for i in range(12)),
                 host=host)
    out = admit(batch, budget=6, rules=robots_rules(host))
    assert {r["key"] for r in out if r["status"] == "blocked"} == {
        k for k in batch["key"] if not robots_allows(host, k)
    }
    assert len(fetched(out)) == host_token_budget(host, 6)


def test_host_round_emits_cache_and_debt_rows():
    """The batch kernel: a first-met host (null cached level) leaves one
    ``robots`` row with its ``robots_rules``; a cached host leaves none
    and uses the cached rules; with debt_boost a host that defers
    leaves one ``debt`` row counting its deferred rows."""
    batch = rows(*((f"p/{i}", 1, i) for i in range(5)))
    kw = dict(host_budget=2, use_robots=True, debt_boost=True, decode_payload=False,
              payload_images=2, payload_scale=1)
    kernel = _round_kernel(**kw)

    def host_round(_key, pdf):
        (out,) = kernel(iter([pdf]))
        return out

    first = host_round((HOST,), batch.assign(disallow=None, crawl_delay_level=None, debt=None))
    assert list(first.columns) == _KERNEL_COLS
    rules = robots_rules(HOST)
    cache_rows = first[first["status"] == "robots"]
    assert cache_rows[["host", "disallow", "crawl_delay_level"]].values.tolist() == [
        [HOST, rules["disallow"], rules["crawl_delay_level"]]
    ]
    n_deferred = int((first["status"] == "deferred").sum())
    assert n_deferred and first[first["status"] == "debt"]["debt"].tolist() == [n_deferred]
    assert first["h64"].dtype == "int64"

    cached = host_round((HOST,), batch.assign(disallow=None, crawl_delay_level=0, debt=3))
    assert not (cached["status"] == "robots").any()
    # cached level 0 with no disallow: budget 2 plus a debt boost of 2
    assert int(cached["status"].isin(["ok", "failed"]).sum()) == 4
    assert cached[cached["status"] == "debt"]["debt"].tolist() == [1]


def test_round_kernel_is_blind_to_arrow_batch_boundaries():
    """The kernel's partition arrives sorted by host but cut into Arrow
    batches anywhere: a host's run (here with a duplicate key whose
    first discovery sits in an earlier batch) carries into the next
    batch, and the last host is finished after the last batch. Every
    cut gives the rows of one whole-partition batch, in the same
    order."""
    hosts = [f"host{i}.example.com" for i in (1, 2, 3)]
    pdf = pd.concat(
        [
            rows(("p/a", 2, 3), ("p/b", 1, 5), ("p/c", 1, 1), ("p/a", 1, 9), host=hosts[0]),
            rows(("q/a", 1, 4), host=hosts[1]),
            rows(*((f"r/{i}", 1 + i % 2, 10 + i) for i in range(6)), host=hosts[2]),
        ],
        ignore_index=True,
    ).assign(
        disallow=None, crawl_delay_level=[None] * 5 + [0.0] * 6, debt=[1.0] * 5 + [None] * 6
    )
    # the JVM's sort on host keeps no order within a host
    pdf = pdf.sample(frac=1, random_state=3).sort_values("host", kind="stable")
    kernel = _round_kernel(host_budget=2, use_robots=True, debt_boost=True,
                           decode_payload=False, payload_images=2, payload_scale=1)

    def run(size):
        batches = [pdf.iloc[i:i + size] for i in range(0, len(pdf), size)]
        out = pd.concat(list(kernel(iter(batches))), ignore_index=True)
        return out.astype(object).where(out.notna(), None).values.tolist()

    whole = run(len(pdf))
    statuses = [r[_KERNEL_COLS.index("status")] for r in whole]
    assert {"ok", "deferred", "robots", "debt"} <= set(statuses)
    assert sum(r[_KERNEL_COLS.index("key")] == f"https://{hosts[0]}/p/a" for r in whole) == 1
    for size in range(1, len(pdf)):
        assert run(size) == whole
