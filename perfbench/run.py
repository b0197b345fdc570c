"""Crawl-and-decode benchmark.

    python3 perfbench/run.py --workload crawl_decode --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. One process, one Spark job at a time
(a closed loop with one client) on local[n], n = min(3, nproc), so one
core stays free for the driver JVM and this process.

``--trace 0`` sets up (JVM launch, session start, input generation, one
warm-up job), then runs the workload's job back to back for
``--seconds`` seconds with tracing off, checking every job's output
against a single-process reference. It reports the end-to-end metrics
named in BENCHMARK.json.

``--trace 1`` sets up the same way, runs the job once traced (spans and
Spark job counts around each call into a layer), then makes the
verification calls and single-process kernel replays, and reports the
per-layer metrics named in BENCHMARK.json. Spans are
written to ``.perfbench/traces/``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before
it holds the host context and per-job detail.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WIDTH = 3  # local[n] upper bound


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def setup(wl, handle):
    """Session start, input generation, then one warm-up job over the
    timed code paths so Python workers and the JVM are warm."""
    spark = handle.start()
    wl.prepare(spark)
    wl.warm(spark)
    return spark


def measure_timed(wl, handle, seconds: float) -> tuple[dict, dict]:
    from harness import RssSampler, Tracer
    from workloads import Outcome

    t0 = time.perf_counter()
    spark = setup(wl, handle)
    setup_s = time.perf_counter() - t0
    wl.expect()

    off = Tracer(False)
    walls, rates = [], []
    attempted = failed = 0
    with RssSampler() as rss:
        deadline = time.perf_counter() + seconds
        while not walls or time.perf_counter() < deadline:
            wl.before_run()
            t0 = time.perf_counter()
            try:
                res = wl.run(spark, off)
                wall = time.perf_counter() - t0
                outcome = wl.check(spark, res)
            except Exception:
                wall = time.perf_counter() - t0
                traceback.print_exc()
                outcome = Outcome(0, 1, 1)
            walls.append(wall)
            rates.append(outcome.items / wall)
            attempted += outcome.attempted
            failed += outcome.failed
    metrics = {
        "wall_s": statistics.median(walls),
        "items_per_s": statistics.median(rates),
        "setup_s": setup_s,
        "peak_rss_mb": rss.peak / 2**20,
    }
    detail = {
        "attempted": attempted,
        "failed": failed,
        "walls_s": walls,
    }
    return metrics, detail


def measure_traced(wl, handle, name: str, seed: int) -> tuple[dict, dict]:
    from harness import JobCounter, Tracer

    spark = setup(wl, handle)
    wl.expect()

    tracer = Tracer(True, JobCounter(spark))
    wl.before_run()
    t0 = time.perf_counter()
    res = wl.run(spark, tracer)
    traced_wall = time.perf_counter() - t0
    overhead_s = tracer.overhead_s
    checks = [wl.check(spark, res)]

    metrics, verify = wl.trace(spark, tracer, res)
    checks.append(verify)
    metrics.update(wl.kernels())
    metrics["kernel_share"] = metrics.pop("kernel_cpu_s") / (traced_wall * wl.width)
    metrics["trace.overhead_frac"] = overhead_s / (traced_wall - overhead_s)
    metrics["frontier.oracle_s"] = getattr(wl, "oracle_s", 0.0)
    tracer.dump(os.path.join(ROOT, ".perfbench", "traces", f"{name}-seed{seed}.json"))
    detail = {
        "attempted": sum(c.attempted for c in checks),
        "failed": sum(c.failed for c in checks),
        "traced_wall_s": traced_wall,
        "spans": len(tracer.spans),
    }
    return metrics, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import mhtml_to_html_spark  # noqa: F401
    except ImportError as exc:
        return _fail(f"cannot import the program under test ({exc})")
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except (OSError, ValueError) as exc:
        return _fail(f"cannot read BENCHMARK.json ({exc})")

    from harness import SparkHandle, fresh_dir, host_context
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        return _fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")

    width = min(WIDTH, os.cpu_count() or 1)
    context = host_context(width, args.seed)
    work = fresh_dir(os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}"))
    tmp = fresh_dir(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    wl = WORKLOADS[args.workload](args.seed, width, work)
    handle = SparkHandle(width, work)
    try:
        if args.trace:
            values, detail = measure_traced(wl, handle, args.workload, args.seed)
        else:
            values, detail = measure_timed(wl, handle, args.seconds)
    finally:
        handle.shutdown()
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    unknown = set(values) - {m["name"] for m in wanted}
    if unknown:
        return _fail(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    metrics = {m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]} for m in wanted}
    attempted, failed = detail["attempted"], detail["failed"]
    report = {
        "workload": args.workload,
        "trace": args.trace,
        "context": context,
        "failed_frac": failed / max(1, attempted),
        **detail,
    }
    print(json.dumps(report))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": max(1, attempted),
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
