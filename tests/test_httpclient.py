"""Real HTTP fetch client against a LOCAL stub server — the same
technique as the reference's fetch double (test/helpers/fetch.js),
except over a real socket with real headers and real bytes. No
outbound network is touched; the server binds 127.0.0.1:0."""

import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from mhtml_to_html_spark.frontier.httpclient import fetch_once, fetch_url_with_retries
from mhtml_to_html_spark.sources.corpus import build_archive

ARCHIVE = build_archive(7, 2, 1)


class _Handler(BaseHTTPRequestHandler):
    hits: dict = {}

    def log_message(self, *a):
        pass

    def do_GET(self):
        n = self.hits[self.path] = self.hits.get(self.path, 0) + 1
        if self.path.startswith("/ok"):
            self.send_response(200)
            self.send_header("Content-Type", "multipart/related")
            self.end_headers()
            self.wfile.write(ARCHIVE)
        elif self.path.startswith("/flaky"):  # 503 once, then ok
            if n == 1:
                self.send_response(503)
                self.end_headers()
            else:
                self.send_response(200)
                self.end_headers()
                self.wfile.write(b"recovered")
        elif self.path.startswith("/throttled"):  # 429 + Retry-After twice
            if n <= 2:
                self.send_response(429)
                self.send_header("Retry-After", "1")
                self.end_headers()
            else:
                self.send_response(200)
                self.end_headers()
                self.wfile.write(b"finally")
        elif self.path.startswith("/poisoned"):  # Retry-After beyond cap
            self.send_response(429)
            self.send_header("Retry-After", "99")
            self.end_headers()
        elif self.path == "/redir/a":  # 301 → 302 chain to real bytes
            self.send_response(301)
            self.send_header("Location", "/redir/b")
            self.end_headers()
        elif self.path == "/redir/b":
            self.send_response(302)
            self.send_header("Location", "/ok/redirfinal")
            self.end_headers()
        elif self.path == "/redir/relative":  # relative Location
            self.send_response(301)
            # RFC 3986: resolved against the DIRECTORY of the current
            # path, so "../ok/rel" from /redir/relative → /ok/rel
            self.send_header("Location", "../ok/rel")
            self.end_headers()
        elif self.path == "/redir/loop":  # self-redirect forever
            self.send_response(302)
            self.send_header("Location", "/redir/loop")
            self.end_headers()
        elif self.path == "/redir/noloc":  # 301 with nowhere to go
            self.send_response(301)
            self.end_headers()
        elif self.path.startswith("/gzipped"):
            import gzip as _gzip

            payload = _gzip.compress(ARCHIVE)
            self.send_response(200)
            self.send_header("Content-Type", "multipart/related")
            self.send_header("Content-Encoding", "gzip")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)
        elif self.path.startswith("/deflated"):
            import zlib as _zlib

            payload = _zlib.compress(b"deflated body")
            self.send_response(200)
            self.send_header("Content-Encoding", "deflate")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)
        elif self.path.startswith("/corruptgz"):  # lies about encoding
            self.send_response(200)
            self.send_header("Content-Encoding", "gzip")
            self.send_header("Content-Length", "9")
            self.end_headers()
            self.wfile.write(b"not gzip!")
        else:  # hard 404 — non-transient
            self.send_response(404)
            self.end_headers()


@pytest.fixture(scope="module")
def server():
    _Handler.hits = {}
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def test_fetch_once_real_bytes(server):
    out = fetch_once(f"{server}/ok/1")
    assert out["status"] == 200
    assert out["body"] == ARCHIVE
    assert out["content_type"] == "multipart/related"


def test_retry_loop_recovers_from_transient(server):
    sleeps = []
    status, attempts, delay, _ct, body = fetch_url_with_retries(
        f"{server}/flaky/1", sleep=sleeps.append
    )
    assert (status, attempts) == ("ok", 2)
    assert body == b"recovered"
    assert delay == 500 and sleeps == [0.5]  # backoff_delay_ms(0)


def test_retry_after_honored(server):
    sleeps = []
    status, attempts, delay, _ct, body = fetch_url_with_retries(
        f"{server}/throttled/1", sleep=sleeps.append
    )
    assert (status, attempts) == ("ok", 3)
    assert body == b"finally"
    assert delay == 2000 and sleeps == [1.0, 1.0]  # two Retry-After: 1s


def test_poisoned_retry_after_fails_immediately(server):
    status, attempts, _d, _ct, _b = fetch_url_with_retries(
        f"{server}/poisoned/1", sleep=lambda s: None
    )
    assert (status, attempts) == ("failed", 1)  # beyond the 5s cap


def test_hard_404_fails_without_retry(server):
    status, attempts, _d, _ct, _b = fetch_url_with_retries(
        f"{server}/gone", sleep=lambda s: None
    )
    assert (status, attempts) == ("failed", 1)


def test_connection_error_is_thrown_marker():
    # a port nothing listens on: status -1 → backoff → failed
    status, attempts, _d, _ct, _b = fetch_url_with_retries(
        "http://127.0.0.1:9/nothing", max_retries=1, timeout=0.5, sleep=lambda s: None
    )
    assert status == "failed" and attempts == 2


@pytest.mark.spark
def test_crawl_spark_http_fetcher_end_to_end(spark, server):
    """crawl_spark with fetcher='http': seeds fetched over REAL
    sockets from the stub server, the payload stage decoding the REAL
    response bytes (an MHTML archive). One round: link discovery stays
    on the scripted children (the stub serves no cross-links)."""
    from mhtml_to_html_spark.frontier.spark_frontier import crawl_spark

    seeds = [f"{server}/ok/s{i}" for i in range(6)] + [f"{server}/gone/s{i}" for i in range(2)]
    res = crawl_spark(
        spark,
        seeds,
        max_rounds=1,
        host_budget=16,
        fetcher="http",
        decode_payload=True,
    )
    (m,) = res.metrics
    assert m["fetched"] == 8
    assert m["ok"] == 6 and m["failed"] == 2


@pytest.mark.spark
def test_streaming_gate_http_fetcher(spark, server, tmp_path):
    """The streaming politeness gate with fetcher='http': admission,
    dedup, and budgets run unchanged while each admitted URL is
    fetched over a REAL socket from the stub server."""
    import pandas as pd

    from mhtml_to_html_spark.streaming.frontier import stream_frontier_fetch

    src, sink, ckpt = str(tmp_path / "src"), str(tmp_path / "sink"), str(tmp_path / "ckpt")
    schema = "url string, depth int, disc_seq long"
    urls = [f"{server}/ok/st{i}" for i in range(4)] + [f"{server}/gone/st{i}" for i in range(2)]
    spark.createDataFrame(
        [(u, 0, i) for i, u in enumerate(urls)], schema
    ).coalesce(1).write.mode("append").parquet(src)

    def to_sink(df, batch_id):
        df.coalesce(1).write.mode("append").parquet(sink)

    q = (
        stream_frontier_fetch(
            spark.readStream.schema(schema).parquet(src),
            host_budget=10,
            fetcher="http",
        )
        .writeStream.foreachBatch(to_sink)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    out = spark.read.parquet(sink).collect()
    by_status = {}
    for row in out:
        by_status.setdefault(row["status"], set()).add(row["key"])
    assert len(by_status.get("ok", ())) == 4
    assert len(by_status.get("failed", ())) == 2


def _mhtml_page(location: str, links: list[str]) -> bytes:
    body = "<html><body>" + "".join(f'<a href="{u}">x</a>' for u in links) + "</body></html>"
    return (
        'MIME-Version: 1.0\r\nContent-Type: multipart/related; boundary="B1"\r\n\r\n'
        "--B1\r\nContent-Type: text/html; charset=utf-8\r\n"
        "Content-Transfer-Encoding: 8bit\r\n"
        f"Content-Location: {location}\r\n\r\n{body}\r\n--B1--\r\n"
    ).encode()


@pytest.mark.spark
def test_crawl_spark_parse_discovery_real_world(spark):
    """The REAL crawl loop: fetcher='http' + discover='parse' — links
    come out of the fetched MHTML bytes (index document anchors,
    resolved against Content-Location), not the scripted children.
    A 4-page site with a shared link (c linked from both a and b)
    must crawl exactly-once in BFS depth order."""
    from mhtml_to_html_spark.frontier.spark_frontier import crawl_spark, extract_links

    site = {}

    class _SiteHandler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            body = site.get(self.path)
            if body is None:
                self.send_response(404)
                self.end_headers()
                return
            self.send_response(200)
            self.send_header("Content-Type", "multipart/related")
            self.end_headers()
            self.wfile.write(body)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), _SiteHandler)
    origin = f"http://127.0.0.1:{srv.server_address[1]}"
    # a -> b, c ; b -> c (relative), d ; c,d -> nothing
    site["/site/a"] = _mhtml_page(f"{origin}/site/a", [f"{origin}/site/b", f"{origin}/site/c"])
    site["/site/b"] = _mhtml_page(f"{origin}/site/b", ["c", f"{origin}/site/d"])
    site["/site/c"] = _mhtml_page(f"{origin}/site/c", [])
    site["/site/d"] = _mhtml_page(f"{origin}/site/d", [])
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        # unit sanity: extraction resolves the relative href
        assert extract_links(site["/site/b"]) == [f"{origin}/site/c", f"{origin}/site/d"]

        res = crawl_spark(
            spark,
            [f"{origin}/site/a"],
            max_rounds=3,
            host_budget=16,
            fetcher="http",
            discover="parse",
            decode_payload=True,
            collect_order=True,
        )
        urls = [e["url"] for e in res.order]
        assert urls == [
            f"{origin}/site/a",
            f"{origin}/site/b",
            f"{origin}/site/c",
            f"{origin}/site/d",
        ]
        assert [e["round"] for e in res.order] == [0, 1, 1, 2]
        assert all(e["status"] == "ok" for e in res.order)
        assert len(res.seen) == 4  # exactly-once despite c linked twice
    finally:
        srv.shutdown()


@pytest.mark.spark
def test_stream_crawl_job_real_site(spark, tmp_path):
    """The streaming feeder job as a REAL crawler: fetcher='http' +
    discover='parse' crawls a live stub-server site to fixpoint —
    links parsed from fetched bytes inside the politeness gate, BFS
    rounds, exactly-once for the doubly-linked page."""
    from mhtml_to_html_spark.streaming.feeder import (
        stream_crawl_job,
        stream_crawl_order,
    )

    site = {}

    class _SiteHandler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            body = site.get(self.path)
            if body is None:
                self.send_response(404)
                self.end_headers()
                return
            self.send_response(200)
            self.send_header("Content-Type", "multipart/related")
            self.end_headers()
            self.wfile.write(body)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), _SiteHandler)
    origin = f"http://127.0.0.1:{srv.server_address[1]}"
    site["/s/a"] = _mhtml_page(f"{origin}/s/a", [f"{origin}/s/b", f"{origin}/s/c"])
    site["/s/b"] = _mhtml_page(f"{origin}/s/b", ["c", f"{origin}/s/d"])
    site["/s/c"] = _mhtml_page(f"{origin}/s/c", [])
    site["/s/d"] = _mhtml_page(f"{origin}/s/d", [])
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        res = stream_crawl_job(
            spark,
            [f"{origin}/s/a"],
            str(tmp_path / "job"),
            max_rounds=5,
            host_budget=16,
            fetcher="http",
            discover="parse",
        )
        assert res["fixpoint"] is True
        order = stream_crawl_order(spark, str(tmp_path / "job"))
        assert [e["url"].rsplit("/", 1)[-1] for e in order] == ["a", "b", "c", "d"]
        assert [e["round"] for e in order] == [0, 1, 1, 2]
        assert all(e["status"] == "ok" for e in order)
    finally:
        srv.shutdown()


def test_redirect_chain_followed_to_real_bytes(server):
    """301 → 302 → 200: the client hops explicitly (reference fetch()
    redirect:'follow' semantics) and reports the FINAL url + body."""
    out = fetch_once(f"{server}/redir/a")
    assert out["status"] == 200
    assert out["body"] == ARCHIVE
    assert out["url"].endswith("/ok/redirfinal")


def test_redirect_relative_location_resolved(server):
    out = fetch_once(f"{server}/redir/relative")
    assert out["status"] == 200
    assert out["url"].endswith("/ok/rel")


def test_redirect_loop_capped(server):
    """A self-redirect must stop at the fetch() cap and come back as
    the thrown marker (-1), which the retry loop treats as transient
    and ultimately fails — never an infinite hop chain."""
    out = fetch_once(f"{server}/redir/loop", max_redirects=5)
    assert out["status"] == -1
    assert _Handler.hits["/redir/loop"] == 6  # initial + 5 hops

    sleeps = []
    status, attempts, _d, _ct, body = fetch_url_with_retries(
        f"{server}/redir/loop", sleep=sleeps.append
    )
    assert (status, body) == ("failed", b"") and attempts == 3


def test_redirect_without_location_fails_hard(server):
    out = fetch_once(f"{server}/redir/noloc")
    assert out["status"] == 301 and out["body"] == b""
    status, attempts, _d, _ct, _b = fetch_url_with_retries(f"{server}/redir/noloc")
    assert (status, attempts) == ("failed", 1)  # non-transient: no retry


def test_gzip_body_transparently_decompressed(server):
    out = fetch_once(f"{server}/gzipped/1")
    assert out["status"] == 200
    assert out["body"] == ARCHIVE  # decompressed, byte-exact
    status, _a, _d, ct, body = fetch_url_with_retries(f"{server}/gzipped/2")
    assert (status, ct, body) == ("ok", "multipart/related", ARCHIVE)


def test_deflate_body_transparently_decompressed(server):
    out = fetch_once(f"{server}/deflated/1")
    assert (out["status"], out["body"]) == (200, b"deflated body")


def test_corrupt_encoding_is_connection_class_failure(server):
    """A body that cannot be decoded per its declared encoding maps to
    the thrown marker: retried as transient, never handed to the MIME
    splitter as corrupt bytes."""
    out = fetch_once(f"{server}/corruptgz/1")
    assert out["status"] == -1
    sleeps = []
    status, attempts, _d, _ct, body = fetch_url_with_retries(
        f"{server}/corruptgz/2", sleep=sleeps.append
    )
    assert (status, body) == ("failed", b"") and attempts == 3
