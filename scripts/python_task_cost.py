"""Fixed slot time a Python task pays before its UDF does any work.

Runs an identity ``mapInPandas`` that imports the package (as every
UDF the package ships does) over N tasks, and the same JVM-only job
without it, both into the ``noop`` sink, on a session configured like
perfbench's (``local[min(3, nproc)]``, Arrow on, UI off). Each row is
a plain long, so the difference is the per-task cost of the Python
boundary: worker hand-off, ``setup_spark_files``, UDF deserialization
and the Arrow round trip of a tiny batch.

    per-task slot ms = (median wall with the UDF - median wall without)
                       * slots / N

for N in {3, 12, 24} (one, four and eight waves of ``local[3]``), with
the medians over --reps alternating runs after one warm-up of each job
(the warm-up spawns the Python workers). This is the figure the fetch
stage's task sizing in ``frontier/spark_frontier.py`` rests on.

Run: python scripts/python_task_cost.py [--reps 5]
Prints one JSON line per N, then a summary line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ROWS_PER_TASK = 1000
TASK_COUNTS = (3, 12, 24)


def _identity(batches):
    import mhtml_to_html_spark  # noqa: F401  (what a package UDF's unpickle does)

    yield from batches


def _timed(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    from pyspark.sql import SparkSession

    slots = min(3, os.cpu_count() or 1)
    spark = (
        SparkSession.builder.master(f"local[{slots}]")
        .appName("python_task_cost")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        per_task = {}
        for n in TASK_COUNTS:
            base = spark.range(0, n * ROWS_PER_TASK, numPartitions=n)
            jobs = {"jvm": base, "python": base.mapInPandas(_identity, base.schema)}
            for df in jobs.values():
                _timed(df)  # warm-up
            walls = {name: [] for name in jobs}
            for _ in range(args.reps):
                for name, df in jobs.items():
                    walls[name].append(_timed(df))
            med = {name: statistics.median(w) for name, w in walls.items()}
            per_task[n] = (med["python"] - med["jvm"]) * slots / n * 1e3
            print(json.dumps({
                "tasks": n,
                "slots": slots,
                "python_wall_s": [round(w, 4) for w in walls["python"]],
                "jvm_wall_s": [round(w, 4) for w in walls["jvm"]],
                "per_task_slot_ms": round(per_task[n], 1),
            }))
        print(json.dumps({
            "slots": slots,
            "python": sys.version.split()[0],
            "loadavg": [round(x, 2) for x in os.getloadavg()],
            "per_task_slot_ms": {str(n): round(v, 1) for n, v in per_task.items()},
            "median_per_task_slot_ms": round(statistics.median(per_task.values()), 1),
        }))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
