"""Headroom crawl: one big crawl at local[32] with no fetch hold —
measures the scheduler + decode pipeline's raw URL throughput at a
size where the discovery index of later rounds reaches
``indexing.DIST_INDEX_MIN_ROWS`` (50 000 rows) and takes the two-pass
path. Prints ONE JSON line.

Run: python scripts/bench_headroom.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    from pyspark.sql import SparkSession

    from mhtml_to_html_spark.frontier.spark_frontier import crawl_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("frontier-headroom")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warm: spin up every Python worker + JIT before timing
    crawl_spark(
        spark,
        [f"https://warm{i}.example.net/w" for i in range(cpus * 8)],
        max_rounds=1, host_budget=4, collect_order=False, decode_payload=True,
    )

    n_hosts = int(os.environ.get("SPARK_GRAFT_HEADROOM_HOSTS", "3000"))
    rounds = int(os.environ.get("SPARK_GRAFT_HEADROOM_ROUNDS", "3"))
    seeds = [f"https://host{h}.example.com/seed/{i}" for h in range(n_hosts) for i in range(2)]

    def run(use_robots: bool):
        start = time.perf_counter()
        res = crawl_spark(
            spark, seeds, max_rounds=rounds, host_budget=64, collect_order=False,
            decode_payload=True, fanout=8, n_hosts=n_hosts, hold_ms=0,
            use_robots=use_robots,
        )
        wall = time.perf_counter() - start
        fetched = sum(m["fetched"] for m in res.metrics)
        return wall, fetched, [dict(m) for m in res.metrics]

    # robots-off and robots-on interleaved best-of-N (shared-host noise
    # protocol): the robots gate adds the per-host rules join + the
    # token-bucket crawl-delay scaling — its overhead is the ratio
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_HEADROOM_REPEATS", "2")))
    best = {}
    for _ in range(repeats):
        for name, robots in (("off", False), ("on", True)):
            wall, fetched, metrics = run(robots)
            if name not in best or wall < best[name][0]:
                best[name] = (wall, fetched, metrics)
    wall, fetched, metrics = best["off"]
    wall_r, fetched_r, metrics_r = best["on"]
    print(json.dumps({
        "metric": "headroom crawl URLs fetched+decoded/sec (no hold)",
        "cpus": cpus, "wall_s": round(wall, 2), "urls": fetched,
        "urls_per_sec": round(fetched / wall, 1),
        "rounds": metrics,
        "robots_wall_s": round(wall_r, 2), "robots_urls": fetched_r,
        "robots_urls_per_sec": round(fetched_r / wall_r, 1),
        "robots_overhead_x": round(wall_r / wall, 3) if wall else None,
        "repeats": repeats,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
