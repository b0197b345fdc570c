"""Per-job/stage breakdown of the scaling-bench crawl at one width.

Runs the identical job bench_scaling.py runs (900 hosts / budget 64 /
3 rounds), with the Spark UI enabled, then dumps every job's wall
time and every stage's task count + summed executorRunTime from the
REST status API. Usage:

    python scripts/profile_crawl.py <cpus>

Prints one JSON line: {"cpus", "wall_s", "jobs": [...], "stages": [...]}.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession  # noqa: E402

from mhtml_to_html_spark.frontier.spark_frontier import crawl_spark  # noqa: E402

PARAMS = {
    "n_hosts": 900,
    "seeds_per_host": 2,
    "budget": 64,
    "fanout": 7,
    "rounds": 3,
    "payload_images": 8,
    "payload_scale": 3,
    "hold_ms": 40,
}


def main() -> None:
    cpus = int(sys.argv[1])
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"profile-crawl-{cpus}")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4055")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    warm_seeds = [f"https://warm{i}.example.net/w" for i in range(cpus * 8)]
    crawl_spark(spark, warm_seeds, max_rounds=1, host_budget=4,
                collect_order=False, decode_payload=True)
    mark = spark.sparkContext.uiWebUrl  # e.g. http://host:4055
    app_id = spark.sparkContext.applicationId

    def api(path: str):
        with urllib.request.urlopen(f"{mark}/api/v1/applications/{app_id}{path}") as r:
            return json.load(r)

    jobs_before = {j["jobId"] for j in api("/jobs")}

    seeds = [
        f"https://host{h}.example.com/seed/{i}"
        for h in range(PARAMS["n_hosts"])
        for i in range(PARAMS["seeds_per_host"])
    ]
    start = time.perf_counter()
    res = crawl_spark(
        spark,
        seeds,
        max_rounds=PARAMS["rounds"],
        host_budget=PARAMS["budget"],
        collect_order=False,
        decode_payload=True,
        fanout=PARAMS["fanout"],
        n_hosts=PARAMS["n_hosts"],
        payload_images=PARAMS["payload_images"],
        payload_scale=PARAMS["payload_scale"],
        hold_ms=PARAMS["hold_ms"],
    )
    wall = time.perf_counter() - start

    jobs = []
    for j in api("/jobs"):
        if j["jobId"] in jobs_before or j.get("completionTime") is None:
            continue
        jobs.append(
            {
                "jobId": j["jobId"],
                "name": (j.get("name") or "")[:60],
                "numTasks": j["numTasks"],
                "submission": j["submissionTime"],
                "completion": j["completionTime"],
            }
        )
    stages = []
    for s in api("/stages?status=complete"):
        stages.append(
            {
                "stageId": s["stageId"],
                "name": (s.get("name") or "")[:48],
                "numTasks": s["numTasks"],
                "executorRunTime_s": round(s["executorRunTime"] / 1000.0, 1),
                "executorCpuTime_s": round(s.get("executorCpuTime", 0) / 1e9, 1),
            }
        )
    fetched = sum(m["fetched"] for m in res.metrics)
    print(
        "PROFILE "
        + json.dumps(
            {
                "cpus": cpus,
                "wall_s": round(wall, 2),
                "fetched": fetched,
                "n_jobs": len(jobs),
                "jobs": jobs,
                "stages": sorted(
                    stages, key=lambda s: -s["executorRunTime_s"]
                )[:20],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
