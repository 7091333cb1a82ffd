"""Integration tests for the real HTTP fetch client (reference
request() semantics, src/utils/utils.py:111-181) against a local
http.server fixture — headers, timeouts, error->'' contract, redirect
following, gzip decoding, and crawl-level parity with a dict-backed
PythonFetcher over the same pages."""

import gzip
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from privacy_crawler_parser_tokenizer_spark.sources.httpfetch import (
    REQUEST_HEADERS,
    HttpClient,
)

ROBOTS_TXT = "User-agent: *\nDisallow: /p2.html\n"

PAGES = {
    "/robots.txt": ROBOTS_TXT,
    "/": (
        "<html><body>"
        '<a href="/p1.html">privacy policy</a> '
        '<a href="/p2.html">our privacy statement</a>'
        "</body></html>"
    ),
    "/p1.html": "<html><body><p>Privacy policy one.</p></body></html>",
    "/p2.html": "<html><body><p>Données personnelles — éé</p></body></html>",
    "/gz.html": "<html><body><p>gzipped page</p></body></html>",
}


class _Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    seen_headers: list[dict] = []

    def do_GET(self):  # noqa: N802 (http.server API)
        type(self).seen_headers.append(dict(self.headers))
        if self.path == "/redir":
            self.send_response(302)
            self.send_header("Location", "/p1.html")
            self.send_header("Content-Length", "0")
            self.end_headers()
            return
        if self.path == "/slow":
            time.sleep(2)
            self._send(PAGES["/p1.html"].encode())
            return
        if self.path == "/gz.html":
            body = gzip.compress(PAGES["/gz.html"].encode())
            self.send_response(200)
            self.send_header("Content-Type", "text/html; charset=utf-8")
            self.send_header("Content-Encoding", "gzip")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            return
        page = PAGES.get(self.path)
        if page is None:
            body = b"not here"
            self.send_response(404)
            self.send_header("Content-Type", "text/plain")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            return
        self._send(page.encode("utf-8"))

    def _send(self, body: bytes):
        self.send_response(200)
        self.send_header("Content-Type", "text/html; charset=utf-8")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):  # silence
        pass


@pytest.fixture(scope="module")
def server():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def test_get_basic_and_charset(server):
    c = HttpClient()
    assert c.get(f"{server}/p1.html") == PAGES["/p1.html"]
    assert c.get(f"{server}/p2.html") == PAGES["/p2.html"]  # utf-8 honored
    c.close()


def test_reference_headers_sent(server):
    _Handler.seen_headers.clear()
    c = HttpClient()
    c.get(f"{server}/p1.html")
    sent = _Handler.seen_headers[-1]
    for k, v in REQUEST_HEADERS.items():
        assert sent.get(k) == v, k
    c.close()


def test_redirect_followed_and_gzip(server):
    c = HttpClient()
    assert c.get(f"{server}/redir") == PAGES["/p1.html"]
    assert c.get(f"{server}/gz.html") == PAGES["/gz.html"]
    c.close()


def test_404_returns_body_not_empty(server):
    # requests.get(url).text is the error page body on 4xx/5xx — the
    # reference never special-cases status codes (utils.py:149-155)
    c = HttpClient()
    assert c.get(f"{server}/missing") == "not here"
    c.close()


def test_error_paths_return_empty(server):
    # read-timeout (handler sleeps past the budget)
    c = HttpClient(read_timeout=0.5)
    assert c.get(f"{server}/slow") == ""
    c.close()
    # connection refused / unreachable
    c2 = HttpClient(connect_timeout=0.5)
    assert c2.get("http://127.0.0.1:1/never") == ""
    assert c2.get("not a url at all") == ""
    c2.close()


def test_keepalive_connection_reuse(server):
    c = HttpClient()
    c.get(f"{server}/p1.html")
    conn1 = list(c._conns.values())[0]
    c.get(f"{server}/p2.html")
    assert list(c._conns.values())[0] is conn1  # same socket reused
    c.close()


def test_spark_fetch_parity_with_fixture(spark, tmp_path, server, monkeypatch):
    """Crawling the live server through make_http_fetcher == crawling a
    dict-backed PythonFetcher over the same pages: same crawl log, seen
    set and documents (utf-8 and gzip bodies included), and a refused
    URL fetches as '' on both sides."""
    from privacy_crawler_parser_tokenizer_spark.plans.frontier import (
        FrontierConfig,
        FrontierCrawler,
        PythonFetcher,
    )
    from privacy_crawler_parser_tokenizer_spark.sources.httpfetch import (
        make_http_fetcher,
    )

    # crawl hub linking every page kind plus a refused host; absolute
    # hrefs, since the crawler joins relative ones onto the page url
    refused = f"{server.rsplit(':', 1)[0]}:1/refused"
    hub = "".join(
        f'<a href="{u}">privacy {i}</a> '
        for i, u in enumerate(
            [f"{server}/p1.html", f"{server}/p2.html", f"{server}/gz.html",
             refused]
        )
    )
    monkeypatch.setitem(PAGES, "/hub.html", f"<html><body>{hub}</body></html>")
    pages = {f"{server}{p}": html for p, html in PAGES.items()}

    def crawl(name, fetcher):
        fc = FrontierCrawler(
            spark, str(tmp_path / name), fetcher=fetcher,
            seeds=[f"{server}/hub.html"],
            ground_truth="privacy policy one",
            dictionary=frozenset("privacy policy one data the a is of".split()),
            robots={},
            config=FrontierConfig(threshold=0.0, max_depth=2,
                                  bloom_capacity=1 << 12),
        )
        fc.run()
        log = [
            (r.seed_rank, r.url, r.discovery_rank, r.round, r.fetched,
             r.valid, r.duplicate, r.doc_id, r.sim)
            for r in fc.crawl_log().collect()
        ]
        seen = {r.href: r.revisits for r in fc.seen().collect()}
        docs = sorted(
            (r.doc_id, r.url, r.html, r.text) for r in fc.documents().collect()
        )
        return log, seen, docs

    live = crawl("wh-live", make_http_fetcher())
    fix = crawl("wh-dict", PythonFetcher(pages.get))
    assert live == fix
    log, _, docs = live
    fetched = {r[1]: r[4] for r in log}
    assert fetched == {
        f"{server}/p1.html": True,
        f"{server}/p2.html": True,
        f"{server}/gz.html": True,
        refused: False,  # refused -> '' -> not fetched
    }
    assert {d[1]: d[2] for d in docs} == {
        f"{server}{p}": PAGES[p] for p in ("/p1.html", "/p2.html", "/gz.html")
    }


def test_frontier_crawl_over_live_http(spark, tmp_path, server):
    """End-to-end: the frontier engine crawling a real HTTP server via
    make_http_fetcher produces fetched, non-empty documents."""
    from privacy_crawler_parser_tokenizer_spark.plans.frontier import (
        FrontierConfig,
        FrontierCrawler,
    )
    from privacy_crawler_parser_tokenizer_spark.sources.httpfetch import (
        make_http_fetcher,
    )

    host = server.split("//", 1)[1]
    fc = FrontierCrawler(
        spark,
        str(tmp_path / "wh-live"),
        fetcher=make_http_fetcher(),
        seeds=[host],
        ground_truth="privacy policy one",
        dictionary=frozenset(
            "privacy policy one data the a is of".split()
        ),
        robots={},
        config=FrontierConfig(threshold=0.0, max_depth=2, bloom_capacity=1 << 12),
    )
    fc.run()
    log = fc.crawl_log().collect()
    assert len(log) >= 1
    assert any(r.fetched for r in log)   # live fetches really happened


def test_stale_keepalive_retried_once(server):
    """A connection pulled from the keep-alive cache whose socket has
    gone stale is retried exactly once on a fresh connection — the one
    failure mode that is our artifact, not the server's."""
    c = HttpClient()
    assert c.get(f"{server}/p1.html") == PAGES["/p1.html"]
    conn = next(iter(c._conns.values()))
    conn.sock.close()  # simulate the server dropping the idle socket
    assert c.get(f"{server}/p1.html") == PAGES["/p1.html"]  # retried fresh


def test_fresh_connection_failure_not_retried(server):
    """A request failure on a FRESH connection propagates straight to
    the error->'' path with no second GET: the reference's request() is
    single-attempt (utils.py:149), so retrying would double the (3,6)s
    failure budget and duplicate the GET (ADVICE r02)."""
    c = HttpClient()
    calls = {"n": 0}
    real = HttpClient._connection

    def flaky(self, scheme, host, port):
        conn, reused = real(self, scheme, host, port)
        orig_request = conn.request

        def counting_request(*a, **kw):
            calls["n"] += 1
            raise OSError("injected fresh-connection failure")

        conn.request = counting_request
        return conn, reused

    c._connection = flaky.__get__(c)
    assert c.get(f"{server}/p1.html") == ""
    assert calls["n"] == 1  # exactly one attempt, no duplicate GET


def test_live_robots_parity_with_injected(spark, tmp_path, server):
    """[NEW] live robots.txt stage: a crawl that FETCHES robots.txt per
    host over HTTP (robots_fetch_fn=http_get) equals the injected-dict
    crawl given the same rules — crawl log, seen set, documents — and
    the warehouse `robots` table caches one fetch per host for the
    whole run."""
    from privacy_crawler_parser_tokenizer_spark.plans.frontier import (
        FrontierConfig,
        FrontierCrawler,
    )
    from privacy_crawler_parser_tokenizer_spark.sources.httpfetch import (
        http_get,
        make_http_fetcher,
    )

    host = server.split("//", 1)[1]
    common = dict(
        seeds=[host],
        ground_truth="privacy policy one",
        dictionary=frozenset("privacy policy one data the a is of".split()),
        config=FrontierConfig(threshold=0.0, max_depth=2,
                              bloom_capacity=1 << 12),
    )

    live = FrontierCrawler(
        spark, str(tmp_path / "wh-robots-live"),
        fetcher=make_http_fetcher(),
        robots_fetch_fn=http_get, **common,
    )
    live.run()
    injected = FrontierCrawler(
        spark, str(tmp_path / "wh-robots-inj"),
        fetcher=make_http_fetcher(),
        robots={host: ROBOTS_TXT}, **common,
    )
    injected.run()

    def log_rows(fc):
        return sorted(
            (r.seed_rank, r.url, r.discovery_rank, r.round, r.fetched,
             r.valid, r.duplicate)
            for r in fc.crawl_log().collect()
        )

    def seen_rows(fc):
        return sorted(
            (r.href, r.revisits) for r in fc.seen().collect()
        )

    assert log_rows(live) == log_rows(injected)
    assert seen_rows(live) == seen_rows(injected)
    live_docs = sorted(r.url for r in live.documents().collect())
    inj_docs = sorted(r.url for r in injected.documents().collect())
    assert live_docs == inj_docs

    # the Disallow actually bit: p2 was discovered but never fetched
    log = live.crawl_log().collect()
    p2 = [r for r in log if r.url.endswith("/p2.html")]
    assert p2 and all(not r.fetched for r in p2)
    assert any(r.url.endswith("/p1.html") and r.fetched for r in log)

    # robots cache: exactly one row for the host, fetched in round 0,
    # never re-fetched in later rounds' deltas
    robots_rows = (
        live.wh.read(spark, "robots").collect()
        if live.wh.read(spark, "robots") is not None else []
    )
    all_rows = []
    for s in live.wh.snapshots("robots"):
        all_rows += spark.read.parquet(
            live.wh.snapshot_path("robots", s)
        ).collect()
    by_host = [r for r in all_rows if r.host == host]
    assert len(by_host) == 1 and by_host[0].fetched_round == 0
    assert by_host[0].content == ROBOTS_TXT
