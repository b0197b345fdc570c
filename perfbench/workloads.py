"""The benchmark's workloads.

Each workload builds its inputs from the seed (``prepare``), warms the
code paths it times (``warm``), computes its single-process reference
(``expect``), readies the next job's inputs (``before_run``), runs one
timed job (``run``) and checks the job's output against the reference
(``check``). The traced run (``trace``, ``kernels``) adds the per-layer
numbers: spans and Spark job counts around each call into a layer,
single-process kernel timings, and the verification calls too costly
for a timed run.

Every call into the package goes through the public function of the
layer it measures. ``sources`` is not measured: it only synthesizes,
untimed, the crawl payload bodies the fetch double decodes.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass

from corpus import IMAGE_KINDS, build_corpus, clock, reference
from harness import Tracer, dir_bytes, fresh_dir


def seed_urls(seed: int | str, hosts: int, per_host: int) -> list[str]:
    """Seed URLs over ``hosts`` seed-chosen host names, with the case,
    port, dot-segment and percent-encoding variants canonicalization
    must fold."""
    rng = random.Random(seed)
    out = []
    for h in rng.sample(range(8 * hosts), hosts):
        for _ in range(per_host):
            page = rng.randrange(10**6)
            variant = rng.randrange(4)
            if variant == 0:
                out.append(f"https://Host{h}.example.com:443/seed/{page}")
            elif variant == 1:
                out.append(f"https://host{h}.example.com/a/../seed/{page}")
            elif variant == 2:
                out.append(f"https://host{h}.example.com/seed/%41{page}")
            else:
                out.append(f"https://host{h}.example.com/seed/{page}")
    return out


_COUNTERS = ("fetched", "ok", "attempts", "deferred", "blocked")
_STREAM_COUNTERS = ("fetched", "ok", "failed", "deferred", "blocked")


def _round_mismatches(got: list[dict], want: list[dict], keys) -> int:
    """Rounds whose counters differ from the oracle's (missing and
    extra rounds count too)."""
    bad = abs(len(got) - len(want))
    for g, w in zip(got, want):
        bad += any(g.get(k) != w.get(k) for k in keys)
    return bad


@dataclass
class Outcome:
    """What one job did: work units for the rate, checked units and
    mismatches for the correctness gate."""

    items: int
    attempted: int
    failed: int


# --- crawl ----------------------------------------------------------------------


class CrawlDecode:
    """Batch ``crawl_spark`` over a seed-chosen host set with the
    scripted fetch double: few rounds over many hosts, robots on, no
    checkpoint, and a full ``parse_mhtml`` of a heavy payload for every
    fetched URL. The per-round counters must equal ``crawl_oracle``'s."""

    hosts, per_host, budget, fanout, rounds = 60, 1, 4, 3, 2
    payload = (8, 6)  # (images, scale) of the synthesized body
    kernel_sample = 2  # the kernel replay takes every n-th fetched URL
    worlds = 16  # seed URL sets per run; each job crawls the next one

    def __init__(self, seed: int, width: int, work_dir: str):
        self.seed = seed
        self.width = width
        self.work_dir = work_dir
        self.world_seeds: list[list[str]] = []
        self.world = -1
        self._oracles: dict[int, object] = {}
        self.oracle_s = 0.0

    @property
    def seeds(self) -> list[str]:
        return self.world_seeds[self.world % self.worlds]

    def crawl_args(self) -> dict:
        return dict(
            max_rounds=self.rounds,
            host_budget=self.budget,
            fanout=self.fanout,
            n_hosts=self.hosts,
            use_robots=True,
        )

    def payload_args(self) -> dict:
        return dict(
            decode_payload=True,
            payload_images=self.payload[0],
            payload_scale=self.payload[1],
        )

    def prepare(self, spark) -> None:
        """Distinct worlds, so no job finds caches filled by an earlier
        job's URLs."""
        self.world_seeds = [
            seed_urls(self.seed * self.worlds + j, self.hosts, self.per_host)
            for j in range(self.worlds)
        ]

    def warm(self, spark) -> None:
        """The same crawl over a world of its own: the JVM and the Python
        workers run every timed code path once before timing starts."""
        from mhtml_to_html_spark.frontier.spark_frontier import crawl_spark

        warm_seeds = seed_urls(f"warm-{self.seed}", self.hosts, self.per_host)
        crawl_spark(spark, warm_seeds, **self.crawl_args(), **self.payload_args())

    def oracle(self):
        if self.world not in self._oracles:
            from mhtml_to_html_spark.frontier.oracle import crawl_oracle

            t0 = time.perf_counter()
            self._oracles[self.world] = crawl_oracle(self.seeds, **self.crawl_args())
            self.oracle_s = time.perf_counter() - t0
        return self._oracles[self.world]

    def expect(self) -> None:
        pass  # each world's oracle is computed when its job is checked

    def before_run(self) -> None:
        self.world += 1

    def run(self, spark, tracer: Tracer, **extra):
        from mhtml_to_html_spark.frontier.spark_frontier import crawl_spark

        with tracer.span("frontier", "crawl_spark"):
            return crawl_spark(
                spark, self.seeds, **self.crawl_args(), **self.payload_args(), **extra
            )

    def check(self, spark, res) -> Outcome:
        want = self.oracle().metrics
        return Outcome(
            items=sum(m["fetched"] for m in res.metrics),
            attempted=len(want),
            failed=_round_mismatches(res.metrics, want, _COUNTERS),
        )

    def verify_sets(self, res) -> Outcome:
        """Full order and the seen, failed and blocked sets."""
        o = self.oracle()
        checks = [
            res.order == o.order,
            res.seen == o.seen,
            res.failed == o.failed,
            res.blocked == o.blocked,
        ]
        return Outcome(0, len(checks), checks.count(False))

    # -- traced run ----------------------------------------------------------

    def trace(self, spark, tracer: Tracer, res) -> tuple[dict, Outcome]:
        out = self.frontier_metrics(tracer, res.metrics)
        check = self.verify_sets(self.run(spark, Tracer(False), collect_order=True))
        for metrics, outcome in (
            self.trace_streaming(spark, tracer),
            self.trace_snapshots(spark, tracer),
        ):
            out.update(metrics)
            check.attempted += outcome.attempted
            check.failed += outcome.failed
        out["streaming.batch_ratio"] = out["streaming.job_s"] / out["frontier.crawl_s"]
        return out, check

    def frontier_metrics(self, tracer: Tracer, metrics: list[dict]) -> dict:
        spans = [s for s in tracer.spans if s["layer"] == "frontier"]
        jobs = sum(s["jobs"] for s in spans)
        ok = sum(m["ok"] for m in metrics)
        attempts = sum(m["attempts"] for m in metrics)
        return {
            "frontier.crawl_s": sum(s["end"] - s["start"] for s in spans),
            "frontier.jobs": jobs,
            "frontier.stages": sum(s["stages"] for s in spans),
            "frontier.tasks": sum(s["tasks"] for s in spans),
            "frontier.jobs_per_round": jobs / max(1, len(metrics)),
            "frontier.fetched": sum(m["fetched"] for m in metrics),
            "frontier.attempts": attempts,
            "frontier.deferred": sum(m["deferred"] for m in metrics),
            "frontier.blocked": sum(m["blocked"] for m in metrics),
            "frontier.ok_per_attempt": ok / max(1, attempts),
        }

    def trace_streaming(self, spark, tracer: Tracer) -> tuple[dict, Outcome]:
        """The streaming twin over the same world, checked round by
        round and by full order."""
        from mhtml_to_html_spark.streaming.feeder import stream_crawl_job, stream_crawl_order

        work = fresh_dir(os.path.join(self.work_dir, "stream"))
        with tracer.span("streaming", "stream_crawl_job") as span:
            sres = stream_crawl_job(
                spark, self.seeds, work_dir=work, **self.crawl_args(), **self.payload_args()
            )
        o = self.oracle()
        failed = _round_mismatches(sres["rounds"], o.metrics, _STREAM_COUNTERS)
        failed += stream_crawl_order(spark, work) != o.order
        out = {
            "streaming.job_s": span["end"] - span["start"],
            "streaming.jobs": span["jobs"],
            "streaming.rounds": len(sres["rounds"]),
            "streaming.state_bytes": dir_bytes(os.path.join(work, "ckpt", "state")),
        }
        shutil.rmtree(work, ignore_errors=True)
        return out, Outcome(0, len(o.metrics) + 1, failed)

    def trace_snapshots(self, spark, tracer: Tracer) -> tuple[dict, Outcome]:
        """The checkpointed twin without payload decode: snapshot every
        round, stop after round 1 and resume, with the seen-set probe on
        from round 1 (threshold 0). Resuming from the last snapshot with
        no round left times the snapshot load; doing it again with
        ``collect_order`` checks full order and sets."""
        from mhtml_to_html_spark.frontier.spark_frontier import crawl_spark
        from mhtml_to_html_spark.plans.catalog import SnapshotCatalog

        ckpt = fresh_dir(os.path.join(self.work_dir, "ckpt"))
        args = dict(self.crawl_args(), checkpoint_dir=ckpt, probe_threshold=0)
        with tracer.span("plans", "crawl_spark(checkpointed)"):
            crawl_spark(spark, self.seeds, **dict(args, max_rounds=1))
            res = crawl_spark(spark, self.seeds, resume=True, **args)
        with tracer.span("plans", "crawl_spark(resume only)") as span:
            crawl_spark(spark, self.seeds, resume=True, **args)
        out = {
            "frontier.resume_s": span["end"] - span["start"],
            # threshold 0: every round after the first probes the seen set
            "frontier.probe_rounds": max(0, len(res.metrics) - 1),
            "plans.snapshots": len(SnapshotCatalog(ckpt).list_snapshots()),
            "plans.snapshot_bytes": dir_bytes(ckpt),
        }
        final = crawl_spark(spark, self.seeds, resume=True, collect_order=True, **args)
        want = self.oracle().metrics
        check = self.verify_sets(final)
        check.attempted += len(want)
        check.failed += _round_mismatches(res.metrics, want, _COUNTERS)
        shutil.rmtree(ckpt, ignore_errors=True)
        return out, check

    def kernels(self) -> dict:
        """Single-process replay of the per-URL kernels the crawl runs
        (canonicalize; fetch double, retries and link discovery; payload
        decode) over every ``kernel_sample``-th URL of the oracle's
        order."""
        from mhtml_to_html_spark.frontier.fixtures import children_of, fetch_with_retries
        from mhtml_to_html_spark.frontier.seenset import url_hash64
        from mhtml_to_html_spark.mime.splitter import parse_mhtml
        from mhtml_to_html_spark.sources.corpus import build_archive
        from mhtml_to_html_spark.urlnorm import canonicalize_url, is_fetchable

        order = self.oracle().order
        rows = order[:: self.kernel_sample]
        bodies: dict[int, bytes] = {}
        canon_s = fetch_s = parse_s = 0.0
        n_parse = parse_bytes = 0
        for row in rows:
            t0 = clock()
            key = canonicalize_url(row["url"])
            t1 = clock()
            status, _attempts, _delay = fetch_with_retries(key)
            h64 = url_hash64(key)
            if status == "ok":
                _links = [c for c in children_of(key, self.fanout, self.hosts) if is_fetchable(c)]
            t2 = clock()
            canon_s += t1 - t0
            fetch_s += t2 - t1
            if status == "ok":
                # body synthesis stands in for the network: untimed
                body = bodies.get(h64 % 64)
                if body is None:
                    body = bodies[h64 % 64] = build_archive(h64 % 64, *self.payload)
                t0 = clock()
                parse_mhtml(body)
                parse_s += clock() - t0
                n_parse += 1
                parse_bytes += len(body)
        scale = len(order) / max(1, len(rows))
        return {
            "urlnorm.canonicalize_us": 1e6 * canon_s / max(1, len(rows)),
            "frontier.fetch_kernel_us": 1e6 * fetch_s / max(1, len(rows)),
            "mime.parse_us": 1e6 * parse_s / max(1, n_parse),
            "mime.parse_mb_s": parse_bytes / max(parse_s, 1e-9) / 1e6,
            "kernel_cpu_s": (canon_s + fetch_s + parse_s) * scale,
        }


# --- stored archives ------------------------------------------------------------


def write_parquet(rows: list[tuple[str, bytes]], path: str, files: int) -> None:
    """(archive_id, content) rows as ``files`` parquet files under ``path``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fresh_dir(path)
    for i in range(files):
        part = rows[i::files]
        table = pa.table(
            {
                "archive_id": pa.array([r[0] for r in part], pa.string()),
                "content": pa.array([r[1] for r in part], pa.binary()),
            }
        )
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))


class ArchiveDecode:
    """A stored MHTML corpus read from parquet: split → extract images,
    and convert, both written back to parquet."""

    n_archives = 160

    def __init__(self, seed: int, width: int, work_dir: str):
        self.seed = seed
        self.width = width
        self.work_dir = work_dir
        self.corpus_path = os.path.join(work_dir, "corpus")
        self.out_dir = os.path.join(work_dir, "out")
        self.rows: list[tuple[str, bytes]] = []
        self._ref = None

    def prepare(self, spark) -> None:
        self.rows = build_corpus(self.seed, self.n_archives)
        write_parquet(self.rows, self.corpus_path, 2 * self.width)

    def corpus(self, spark):
        return spark.read.parquet(self.corpus_path)

    def warm(self, spark) -> None:
        self.run(spark, Tracer(False))

    def reference(self) -> dict:
        if self._ref is None:
            self._ref = reference(self.rows)
        return self._ref

    def expect(self) -> None:
        self.reference()

    def before_run(self) -> None:
        pass

    def run(self, spark, tracer: Tracer) -> None:
        from mhtml_to_html_spark.operators.images_extract import extract_images
        from mhtml_to_html_spark.operators.pages import convert_archives
        from mhtml_to_html_spark.operators.split import split_archives

        corpus = self.corpus(spark)
        with tracer.span("operators", "split_archives+extract_images"):
            extract_images(split_archives(corpus)).write.mode("overwrite").parquet(
                os.path.join(self.out_dir, "images")
            )
        with tracer.span("operators", "convert_archives"):
            convert_archives(corpus).write.mode("overwrite").parquet(
                os.path.join(self.out_dir, "pages")
            )

    def written(self, spark) -> dict:
        from pyspark.sql import functions as F

        images = (
            spark.read.parquet(os.path.join(self.out_dir, "images"))
            .select(
                "archive_id", "image_id", F.sha2("bytes", 256), "w", "h", "fmt", "caption", "phash"
            )
            .collect()
        )
        pages = (
            spark.read.parquet(os.path.join(self.out_dir, "pages"))
            .select("archive_id", F.sha2(F.encode("data", "utf-8"), 256), "title", "error")
            .collect()
        )
        got: dict[str, list] = {aid: [[], None] for aid, _ in self.rows}
        for r in images:
            got.setdefault(r[0], [[], None])[0].append(tuple(r[1:]))
        for r in pages:
            got.setdefault(r[0], [[], None])[1] = tuple(r[1:])
        return {aid: (tuple(sorted(imgs)), page) for aid, (imgs, page) in got.items()}

    def check(self, spark, _res=None) -> Outcome:
        want = self.reference()["expected"]
        got = self.written(spark)
        bad = sum(got.get(aid) != exp for aid, exp in want.items()) + len(set(got) - set(want))
        return Outcome(items=len(self.rows), attempted=len(want), failed=bad)

    def trace(self, spark, tracer: Tracer, _res=None) -> tuple[dict, Outcome]:
        from mhtml_to_html_spark.operators.images_extract import extract_images
        from mhtml_to_html_spark.operators.pages import convert_archives
        from mhtml_to_html_spark.operators.split import split_archives

        job_spans = list(tracer.spans)
        error_rows = (
            spark.read.parquet(os.path.join(self.out_dir, "pages"))
            .filter("error is not null")
            .count()
        )
        sinks = {
            "split": split_archives,
            "extract_images": lambda c: extract_images(split_archives(c)),
            "convert_archives": convert_archives,
        }
        out = {
            "operators.jobs": sum(s["jobs"] for s in job_spans),
            "operators.stages": sum(s["stages"] for s in job_spans),
            "operators.tasks": sum(s["tasks"] for s in job_spans),
            "operators.error_rows": error_rows,
        }
        for name, build in sinks.items():
            with tracer.span("operators", f"{name} (noop sink)") as span:
                build(self.corpus(spark)).write.format("noop").mode("overwrite").save()
            out[f"operators.{name}_s"] = span["end"] - span["start"]
        return out, Outcome(0, 0, 0)

    def kernels(self) -> dict:
        ref = self.reference()
        t = ref["timing"]
        out = {
            "mime.parse_us": 1e6 * t["parse_s"] / t["parses"],
            "mime.parse_mb_s": t["parse_bytes"] / t["parse_s"] / 1e6,
            "operators.convert_page_us": 1e6 * t["convert_s"] / len(self.rows),
            "media.undecodable": ref["undecodable"],
            "kernel_cpu_s": t["parse_s"] + t["convert_s"] + t["phash_s"]
            + sum(ref["decode_s"].values()),
        }
        for kind in IMAGE_KINDS:
            n = ref["decode_n"][kind]
            out[f"media.decode_ms.{kind}"] = 1e3 * ref["decode_s"][kind] / max(1, n)
        return out


WORKLOADS = {
    "crawl_decode": CrawlDecode,
    "archive_decode": ArchiveDecode,
}
