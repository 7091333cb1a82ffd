"""Real HTTP fetch client for the frontier's fetch stage.

Implements the reference crawler's request semantics
(/root/reference/src/utils/utils.py:111-181) on the stdlib so the
engine can point at a live web without third-party deps:

  * the exact header set: Firefox-73 User-Agent, Accept */*,
    Accept-Language en-US, Accept-Encoding gzip/deflate, DNT,
    Upgrade-Insecure-Requests (utils.py:131-143);
  * split (3, 6) second connect/read timeouts (utils.py:149);
  * ANY failure — refused, DNS, timeout, TLS, malformed response —
    returns ``""`` (utils.py:168-181's blanket except paths), so a
    dead URL is an empty fetch, never a task failure;
  * redirects followed (requests.get's default) up to a bounded hop
    count; gzip/deflate bodies decompressed; charset honored from
    Content-Type with a utf-8(replace) fallback (no chardet in the
    sandbox — documented divergence from requests' apparent-encoding
    sniffing).

Scale shape: ``HttpFetcher`` rides the PythonFetcher seam
(plans/frontier.py) — mapInPandas over salted host-partitions — and
keeps one ``HttpClient`` per Python worker with keep-alive
connections cached per (scheme, host, port), so a partition's
politeness-grouped URLs reuse sockets instead of re-handshaking
per row.
"""

from __future__ import annotations

import gzip
import ssl
import zlib
from http.client import HTTPConnection, HTTPSConnection
from urllib.parse import urljoin, urlsplit

# utils.py:131-143 — byte-for-byte the reference's header set
REQUEST_HEADERS = {
    "User-Agent": (
        "Mozilla/5.0 (Macintosh; Intel Mac OS X 10.15; rv:73.0) "
        "Gecko/20100101 Firefox/73.0"
    ),
    "Upgrade-Insecure-Requests": "1",
    "DNT": "1",
    "Accept": "*/*",
    "Accept-Language": "en-US,en;q=0.5",
    "Accept-Encoding": "gzip, deflate",
}
CONNECT_TIMEOUT_S = 3.0   # utils.py:149 timeout=(3, 6)
READ_TIMEOUT_S = 6.0
MAX_REDIRECTS = 5
MAX_CONNECTIONS = 64      # keep-alive cache cap per client (LRU evict)


def _decode_body(body: bytes, content_type: str, content_encoding: str) -> str:
    if content_encoding == "gzip":
        body = gzip.decompress(body)
    elif content_encoding == "deflate":
        try:
            body = zlib.decompress(body)
        except zlib.error:           # raw-deflate servers
            body = zlib.decompress(body, -zlib.MAX_WBITS)
    charset = "utf-8"
    for part in content_type.split(";"):
        part = part.strip()
        if part.lower().startswith("charset="):
            charset = part.split("=", 1)[1].strip("'\"") or "utf-8"
    try:
        return body.decode(charset, errors="replace")
    except LookupError:
        return body.decode("utf-8", errors="replace")


class HttpClient:
    """Keep-alive HTTP/1.1 client, one connection per (scheme, host,
    port).  Timeouts are configurable for tests; production values are
    the reference's (3, 6)."""

    def __init__(self, connect_timeout: float = CONNECT_TIMEOUT_S,
                 read_timeout: float = READ_TIMEOUT_S,
                 verify_tls: bool = True,
                 max_connections: int = MAX_CONNECTIONS):
        self.connect_timeout = connect_timeout
        self.read_timeout = read_timeout
        self.max_connections = max_connections
        self._ctx = (
            ssl.create_default_context()
            if verify_tls
            else ssl._create_unverified_context()
        )
        # insertion-ordered dict as LRU: a crawl worker sees thousands
        # of distinct hosts over its lifetime — without eviction the
        # cache exhausts file descriptors and every subsequent fetch
        # silently degrades to ''
        self._conns: dict[tuple[str, str, int], HTTPConnection] = {}

    def _connection(self, scheme: str, host: str, port: int) -> tuple[HTTPConnection, bool]:
        """Returns (connection, reused): ``reused`` is True when the socket
        came from the keep-alive cache — only those may be retried once on
        failure (a stale keep-alive is our artifact, not the server's)."""
        key = (scheme, host, port)
        conn = self._conns.pop(key, None)
        reused = conn is not None
        if conn is None:
            while len(self._conns) >= self.max_connections:
                self._drop(*next(iter(self._conns)))   # evict LRU
            if scheme == "https":
                conn = HTTPSConnection(host, port, timeout=self.connect_timeout,
                                       context=self._ctx)
            else:
                conn = HTTPConnection(host, port, timeout=self.connect_timeout)
            conn.connect()                      # pays the 3s connect budget
            conn.sock.settimeout(self.read_timeout)  # then the 6s read budget
        self._conns[key] = conn                 # (re)insert as most-recent
        return conn, reused

    def _drop(self, scheme: str, host: str, port: int) -> None:
        conn = self._conns.pop((scheme, host, port), None)
        if conn is not None:
            try:
                conn.close()
            except Exception:
                pass

    def _request_once(self, url: str) -> tuple[int, str, str]:
        """One GET on a (possibly reused) connection.
        Returns (status, location-or-'', body)."""
        parts = urlsplit(url)
        scheme = parts.scheme or "http"
        if scheme not in ("http", "https"):
            raise ValueError(f"unsupported scheme: {scheme}")
        host = parts.hostname or ""
        port = parts.port or (443 if scheme == "https" else 80)
        path = parts.path or "/"
        if parts.query:
            path += "?" + parts.query
        conn, reused = self._connection(scheme, host, port)
        try:
            conn.request("GET", path, headers=REQUEST_HEADERS)
            resp = conn.getresponse()
        except Exception:
            self._drop(scheme, host, port)
            if not reused:
                # fresh connection failed: propagate straight to the
                # error->'' path, preserving the reference's
                # single-attempt request() budget (utils.py:149) —
                # retrying here would double the (3,6)s failure budget
                # and issue a duplicate GET.
                raise
            # stale keep-alive socket: retry once on a fresh connection
            conn, _ = self._connection(scheme, host, port)
            conn.request("GET", path, headers=REQUEST_HEADERS)
            resp = conn.getresponse()
        body = resp.read()
        if resp.will_close:
            self._drop(scheme, host, port)
        if 300 <= resp.status < 400:
            return resp.status, resp.getheader("Location") or "", ""
        return resp.status, "", _decode_body(
            body,
            resp.getheader("Content-Type") or "",
            (resp.getheader("Content-Encoding") or "").lower(),
        )

    def get(self, url: str) -> str:
        """GET with bounded redirect following; '' on any failure —
        the reference's error contract (utils.py:168-181)."""
        try:
            for _ in range(MAX_REDIRECTS + 1):
                status, location, body = self._request_once(url)
                if 300 <= status < 400 and location:
                    url = urljoin(url, location)
                    continue
                return body
            return ""                            # redirect loop
        except Exception:
            return ""

    def close(self) -> None:
        for key in list(self._conns):
            self._drop(*key)


_WORKER_CLIENT: HttpClient | None = None


def http_get(url: str) -> str:
    """Module-level fetch fn for PythonFetcher: one lazily-created
    HttpClient per Python worker process, so every Arrow batch a worker
    handles shares its keep-alive connection cache."""
    global _WORKER_CLIENT
    if _WORKER_CLIENT is None:
        _WORKER_CLIENT = HttpClient()
    return _WORKER_CLIENT.get(url)


def make_http_fetcher():
    """A frontier fetcher hitting the real web: PythonFetcher
    (mapInPandas over salted host-partitions) driving ``http_get``."""
    from ..plans.frontier import PythonFetcher

    return PythonFetcher(http_get)
