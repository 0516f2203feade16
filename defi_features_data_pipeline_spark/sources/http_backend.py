"""Real-HTTP backend for the paginated API sources (S1–S4).

The reference's extractors speak HTTP: paginated SQL POSTed to a
Transpose-style endpoint (`/root/reference/src/pipelines/raw/
defi_events.py:59-92`) and block-pinned GraphQL with keyset pagination
(`historical_account_positions.py:54-106`). The api_source DataSource
kept the transport behind a single injectable seam; this module is the
seam's REAL client half — stdlib ``urllib`` POSTs resolved on the
executor via the spec-string contract::

    .option("backend",
            "defi_features_data_pipeline_spark.sources.http_backend"
            ":fetch_page_http?url=http://127.0.0.1:<port>")

The endpoint URL rides IN the spec string (parsed by
``_resolve_backend``), so it reaches every executor worker without
pickling a closure and without environment-variable plumbing.

``SyntheticAPIServer`` is the matching loopback server — an in-process
``ThreadingHTTPServer`` on 127.0.0.1 serving the SAME deterministic
synthetic data as the in-process backends (it calls ``fetch_page`` /
``fetch_positions`` server-side), so pagination, retry, backoff and
concurrency-bounding run over a genuine HTTP stack end to end. Fault
injection (``fail_first``) returns HTTP 500 for the first N attempts
of every distinct request, and the server tracks the maximum number of
concurrently in-flight requests so the NUMBER_OF_THREADS bound is
asserted by measurement. The sandbox has no external network; at
deployment the only change is the URL in the option string.

100 TB notes: the client is executor-side and per-partition — 1000
window partitions = 1000 independent fetch loops with Spark task retry
above the in-task retry ladder; nothing is collected on the driver.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.request import Request, urlopen

from .api_source import fetch_page, fetch_positions

_TIMEOUT_SECONDS = 30


def _post_json(url: str, path: str, payload: dict) -> list[dict]:
    """One JSON POST → decoded ``rows`` list. Non-2xx raises (urllib's
    HTTPError), which the reader's retry ladder catches — the transport
    error IS the retry signal, same as the reference's 5-attempt loop
    around ``requests.post``."""
    req = Request(
        url.rstrip("/") + path,
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urlopen(req, timeout=_TIMEOUT_SECONDS) as resp:
        return json.loads(resp.read())["rows"]


def fetch_page_http(
    event: str,
    window_start: int,
    window_end: int,
    offset: int,
    limit: int,
    *,
    url: str,
) -> list[dict]:
    """S1 transport: offset-paginated window query over HTTP (the
    backend-seam signature plus the spec-bound ``url``)."""
    return _post_json(
        url,
        "/query",
        {
            "event": event,
            "window_start": window_start,
            "window_end": window_end,
            "offset": offset,
            "limit": limit,
        },
    )


def fetch_positions_http(
    block_number: int, last_id: str, limit: int, *, url: str
) -> list[dict]:
    """S2/S3 transport: block-pinned keyset page over HTTP."""
    return _post_json(
        url,
        "/positions",
        {"block_number": block_number, "last_id": last_id, "limit": limit},
    )


class SyntheticAPIServer:
    """Loopback HTTP server backing the S1–S4 sources with the same
    deterministic synthetic corpus as the in-process seam functions.

    Parameters:
      fail_first   — every DISTINCT request body returns HTTP 500 for
                     its first N attempts (retry-ladder exercise);
      per_window   — rows per event window served by /query (raise past
                     PAGE_SIZE to force real multi-page offset loops).

    Telemetry (read after the run):
      max_in_flight — peak number of concurrently open requests (open
                      from arrival until the response is ready), the
                      measured check on the reader's ``max_parallel``
                      concurrency bound;
      n_requests    — total requests served (including injected 500s).
    """

    def __init__(self, fail_first: int = 0, per_window: int = 120):
        self.fail_first = fail_first
        self.per_window = per_window
        self.n_requests = 0
        self.max_in_flight = 0
        self._in_flight = 0
        self._attempts: dict[str, int] = {}
        self._lock = threading.Lock()
        outer = self

        class _Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # quiet: tests own stdout
                pass

            def do_POST(self):
                body = self.rfile.read(
                    int(self.headers.get("Content-Length", 0))
                )
                with outer._lock:
                    outer.n_requests += 1
                    outer._in_flight += 1
                    outer.max_in_flight = max(
                        outer.max_in_flight, outer._in_flight
                    )
                    key = self.path + "|" + body.decode()
                    outer._attempts[key] = outer._attempts.get(key, 0) + 1
                    attempt = outer._attempts[key]
                # the request counts as finished once its response is
                # ready, before the first byte is written: a client's
                # next request can only follow the last byte of this
                # response, so a sequential client never overlaps itself
                try:
                    status, out = self._respond(attempt, body)
                finally:
                    with outer._lock:
                        outer._in_flight -= 1
                self.send_response(status)
                if status == 200:
                    self.send_header("Content-Type", "application/json")
                    self.send_header("Content-Length", str(len(out)))
                self.end_headers()
                self.wfile.write(out)

            def _respond(self, attempt: int, body: bytes) -> tuple[int, bytes]:
                if attempt <= outer.fail_first:
                    return 500, b"injected failure"
                p = json.loads(body)
                if self.path == "/query":
                    rows = fetch_page(
                        p["event"],
                        p["window_start"],
                        p["window_end"],
                        p["offset"],
                        p["limit"],
                        per_window=outer.per_window,
                    )
                elif self.path == "/positions":
                    rows = fetch_positions(
                        p["block_number"], p["last_id"], p["limit"]
                    )
                else:
                    return 404, b""
                return 200, json.dumps({"rows": rows}).encode()

        # port 0 = ephemeral: parallel test sessions never collide
        self._server = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )

    @property
    def url(self) -> str:
        host, port = self._server.server_address[:2]
        return f"http://{host}:{port}"

    def events_backend_spec(self) -> str:
        return f"{__name__}:fetch_page_http?url={self.url}"

    def positions_backend_spec(self) -> str:
        return f"{__name__}:fetch_positions_http?url={self.url}"

    def __enter__(self) -> "SyntheticAPIServer":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._server.shutdown()
        self._server.server_close()
