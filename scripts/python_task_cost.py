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
(the warm-up spawns the Python workers). This is the figure the kernel
stage's task sizing in ``frontier/spark_frontier.py`` rests on.

``--mode host-kernel`` measures the other fixed cost the round kernel
can pay: one per host group. It runs an identity host kernel over H
hosts × 3 rows, dealt into ``slots`` partitions by host, in two shapes:

- ``grouped``: ``repartition(slots, host).groupBy(host).applyInPandas``,
  one pandas frame in and out (and one Arrow round trip) per host;
- ``sorted``: ``repartition(slots, host).sortWithinPartitions(host)
  .mapInPandas``, one frame per Arrow batch, whose rows are walked as
  tuples in host runs and emitted as one frame per batch (the round
  kernel's shape),

against the same repartition with no Python, for H in {60, 600, 6000}:

    per-host slot ms = (median wall of the shape - median wall without)
                       * slots / H

Run: python scripts/python_task_cost.py [--reps 5] [--mode task|host-kernel]
Prints one JSON line per N (or H), then a summary line.
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
HOST_COUNTS = (60, 600, 6000)
ROWS_PER_HOST = 3


def _identity(batches):
    import mhtml_to_html_spark  # noqa: F401  (what a package UDF's unpickle does)

    yield from batches


def _identity_group(pdf):
    import mhtml_to_html_spark  # noqa: F401

    return pdf


def _identity_runs(batches):
    """Per batch: tuples, a walk over each host's run, one frame out."""
    import pandas as pd

    import mhtml_to_html_spark  # noqa: F401

    for pdf in batches:
        cols = list(pdf.columns)
        rows = list(zip(*(pdf[c].tolist() for c in cols)))
        out, start = [], 0
        while start < len(rows):
            end = start + 1
            while end < len(rows) and rows[end][0] == rows[start][0]:
                end += 1
            out.extend(rows[start:end])
            start = end
        yield pd.DataFrame(out, columns=cols)


def _timed(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _medians(jobs: dict, reps: int) -> tuple[dict, dict]:
    """Warm each job once, then time ``reps`` alternating runs of all."""
    for df in jobs.values():
        _timed(df)  # warm-up
    walls = {name: [] for name in jobs}
    for _ in range(reps):
        for name, df in jobs.items():
            walls[name].append(_timed(df))
    return walls, {name: statistics.median(w) for name, w in walls.items()}


def task_cost(spark, slots: int, reps: int) -> dict:
    per_task = {}
    for n in TASK_COUNTS:
        base = spark.range(0, n * ROWS_PER_TASK, numPartitions=n)
        walls, med = _medians(
            {"jvm": base, "python": base.mapInPandas(_identity, base.schema)}, reps
        )
        per_task[n] = (med["python"] - med["jvm"]) * slots / n * 1e3
        print(json.dumps({
            "tasks": n,
            "slots": slots,
            "python_wall_s": [round(w, 4) for w in walls["python"]],
            "jvm_wall_s": [round(w, 4) for w in walls["jvm"]],
            "per_task_slot_ms": round(per_task[n], 1),
        }))
    return {
        "per_task_slot_ms": {str(n): round(v, 1) for n, v in per_task.items()},
        "median_per_task_slot_ms": round(statistics.median(per_task.values()), 1),
    }


def host_kernel_cost(spark, slots: int, reps: int) -> dict:
    from pyspark.sql import functions as F

    per_host = {}
    for h in HOST_COUNTS:
        rows = spark.range(0, h * ROWS_PER_HOST, numPartitions=slots).select(
            F.format_string("host%d.example.com", F.col("id") % h).alias("host"),
            F.col("id").alias("v"),
        )
        dealt = rows.repartition(slots, "host")
        walls, med = _medians({
            "jvm": dealt,
            "grouped": dealt.groupBy("host").applyInPandas(_identity_group, rows.schema),
            "sorted": dealt.sortWithinPartitions("host").mapInPandas(_identity_runs, rows.schema),
        }, reps)
        per_host[h] = {
            shape: (med[shape] - med["jvm"]) * slots / h * 1e3 for shape in ("grouped", "sorted")
        }
        print(json.dumps({
            "hosts": h,
            "rows": h * ROWS_PER_HOST,
            "slots": slots,
            **{f"{name}_wall_s": [round(w, 4) for w in ws] for name, ws in walls.items()},
            "per_host_slot_ms": {k: round(v, 3) for k, v in per_host[h].items()},
        }))
    return {"per_host_slot_ms": {
        str(h): {k: round(x, 3) for k, x in d.items()} for h, d in per_host.items()
    }}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--mode", choices=("task", "host-kernel"), default="task")
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
        measure = task_cost if args.mode == "task" else host_kernel_cost
        summary = measure(spark, slots, args.reps)
        print(json.dumps({
            "mode": args.mode,
            "slots": slots,
            "python": sys.version.split()[0],
            "loadavg": [round(x, 2) for x in os.getloadavg()],
            **summary,
        }))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
