"""HTTP serving entry (S13): score single documents with the SAME
extractor the cluster pipeline runs.

Design mirror of the reference's Flask serving app
(``api/flask_app.py:452-523``), re-expressed without Flask/torch:

- ``POST /extract`` (body = HTML/PDF bytes, url via ``X-Url`` header or
  ``?url=``) → JSON ``{url, extracted_text, spans, ...}`` — the same row
  the batch pipeline emits (reference: image → PAGE-XML per request).
- **Bounded admission** — the reference bounds its work queue with
  ``LAYPA_MAX_QUEUE_SIZE`` and rejects when full
  (``flask_app.py:499-503``); here a counting semaphore admits at most
  ``max_pending`` concurrent requests and over-limit requests get
  **429** immediately (load-shedding beats queue collapse).
- ``GET /metrics`` — Prometheus text counters (requests/errors/inflight/
  latency), the analog of the reference's Prometheus integration
  (``flask_app.py:120-130``).
- ``GET /healthz`` — liveness + config hash (provenance parity with the
  batch path's metrics stamp).
- **One write per response, TCP_NODELAY on**: status line, headers and
  body leave in a single socket write, so a keep-alive client never waits
  ~40 ms on its own delayed ACK (Nagle) between the headers and the body.
- **Parquet spool**: each response is also appended to an in-memory
  buffer flushed to ``spool_dir`` as parquet every ``flush_every`` docs
  (and on close) — the serving-time analog of the reference writing
  PAGE-XML to its output dir, and the bridge back into the engine: the
  spool is a valid input for Spark analysis jobs or
  ``streaming.stream_extraction`` checkpointed ingestion.

Single-worker semantics: extraction is pure CPU-bound Python, so like
the reference's one-GPU ``ThreadPoolExecutor(max_workers=1)`` the
default admits concurrency but serializes on the GIL; scale-out is
horizontal (N server processes behind a balancer), exactly as the
reference deploys (``README.md`` docker section). The cluster-scale path
remains the batch/streaming pipeline — this endpoint is for interactive
scoring and parity debugging.

No Spark session is required: the extractor is the same pure function
(``extract_record``) the executors run, so served results are
byte-identical to pipeline output for the same payload + config.
"""

from __future__ import annotations

import datetime as dt
import json
import threading
import time
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from .config import DEFAULT_CONFIG, ExtractConfig
from .extract import extract_record


class _Metrics:
    """Tiny Prometheus-text counter registry (A7 analog)."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.requests_total = 0
        self.errors_total = 0
        self.rejected_total = 0
        self.inflight = 0
        self.latency_sum = 0.0

    def render(self) -> str:
        with self._lock:
            lines = [
                "# TYPE webextract_requests_total counter",
                f"webextract_requests_total {self.requests_total}",
                "# TYPE webextract_errors_total counter",
                f"webextract_errors_total {self.errors_total}",
                "# TYPE webextract_rejected_total counter",
                f"webextract_rejected_total {self.rejected_total}",
                "# TYPE webextract_inflight gauge",
                f"webextract_inflight {self.inflight}",
                "# TYPE webextract_latency_seconds_sum counter",
                f"webextract_latency_seconds_sum {round(self.latency_sum, 6)}",
            ]
        return "\n".join(lines) + "\n"


class _Spool:
    """Buffered parquet side-output of served requests (thread-safe).

    Each spool row is a VALID ``pages`` row (url, warc_ts, html, text,
    lang — the engine's input schema) carrying the raw posted payload,
    plus served-result extras (n_spans, content_kind, error, served_at).
    Reading the spool with ``PAGES_SCHEMA`` (batch or
    ``streaming.stream_extraction``) ignores the extras, so served
    traffic replays through the cluster pipeline byte-identically —
    the bridge the e2e test drives end to end.
    """

    def __init__(self, spool_dir: str | None, flush_every: int,
                 flush_bytes: int = 64 << 20) -> None:
        self.dir = spool_dir
        self.flush_every = flush_every
        # byte bound as well as row bound: worst case without it is
        # flush_every × max_body_bytes of raw payloads held in memory
        self.flush_bytes = flush_bytes
        self._rows: list[dict] = []
        self._pending_bytes = 0
        self._lock = threading.Lock()

    def add(self, row: dict, payload: bytes) -> None:
        if self.dir is None:
            return
        with self._lock:
            self._pending_bytes += len(payload)
            self._rows.append({
                "url": row["url"],
                "warc_ts": dt.datetime.now(dt.timezone.utc)
                .replace(tzinfo=None),
                "html": payload,
                "text": row["extracted_text"],
                "lang": None,
                "n_spans": row["n_spans"],
                "content_kind": row["content_kind"],
                "error": row["error"],
                "served_at": time.time(),
            })
            if (len(self._rows) >= self.flush_every
                    or self._pending_bytes >= self.flush_bytes):
                self._flush_locked()

    def close(self) -> None:
        with self._lock:
            self._flush_locked()

    def _flush_locked(self) -> None:
        if not self._rows:
            return
        import pathlib

        import pyarrow as pa
        import pyarrow.parquet as pq

        pathlib.Path(self.dir).mkdir(parents=True, exist_ok=True)
        schema = pa.schema([
            ("url", pa.string()), ("warc_ts", pa.timestamp("us")),
            ("html", pa.binary()), ("text", pa.string()),
            ("lang", pa.string()), ("n_spans", pa.int32()),
            ("content_kind", pa.string()), ("error", pa.string()),
            ("served_at", pa.float64()),
        ])
        table = pa.Table.from_pylist(self._rows, schema=schema)
        name = f"served-{uuid.uuid4().hex[:12]}.parquet"
        pq.write_table(table, f"{self.dir}/{name}")
        self._rows = []
        self._pending_bytes = 0


class ExtractServer:
    """Threaded HTTP server wrapping the pure extractor.

    ``start()`` returns the bound port (pass ``port=0`` for ephemeral);
    ``close()`` stops the server and flushes the spool.
    """

    def __init__(self, cfg: ExtractConfig = DEFAULT_CONFIG,
                 host: str = "127.0.0.1", port: int = 0,
                 max_pending: int = 64, spool_dir: str | None = None,
                 flush_every: int = 64, flush_bytes: int = 64 << 20,
                 max_body_bytes: int = 32 * 1024 * 1024,
                 idle_timeout: float = 30.0,
                 configs: dict[str, ExtractConfig] | None = None) -> None:
        # named config registry + runtime hot-swap (the reference swaps
        # models by name at runtime, api/flask_app.py:76-110): the active
        # config is read once per request under the lock, so an in-flight
        # request finishes on the config it was admitted with
        self.configs = {"default": cfg, **(configs or {})}
        self._active = "default"
        self._cfg_lock = threading.Lock()
        self.max_body_bytes = max_body_bytes
        self.idle_timeout = idle_timeout
        self.metrics = _Metrics()
        self.spool = _Spool(spool_dir, flush_every, flush_bytes)
        self._admission = threading.BoundedSemaphore(max_pending)
        self._httpd = ThreadingHTTPServer((host, port), self._handler())
        self._thread: threading.Thread | None = None

    @property
    def cfg(self) -> ExtractConfig:
        with self._cfg_lock:
            return self.configs[self._active]

    @property
    def active_config(self) -> str:
        with self._cfg_lock:
            return self._active

    def swap_config(self, name: str) -> ExtractConfig:
        """Switch the active config to a registered name (hot-swap)."""
        with self._cfg_lock:
            if name not in self.configs:
                raise KeyError(name)
            self._active = name
            return self.configs[name]

    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    def start(self) -> int:
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self.port

    def close(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self.spool.close()

    # -- request handling -----------------------------------------------

    def _extract(self, url: str, payload: bytes) -> dict:
        t0 = time.perf_counter()
        cfg = self.cfg  # one registry read; stable for this request
        row = extract_record(url, payload, cfg)
        m = self.metrics
        with m._lock:
            m.requests_total += 1
            m.latency_sum += time.perf_counter() - t0
            if row["error"] is not None:
                m.errors_total += 1
        self.spool.add(row, payload)
        return row

    def _handler(self):
        server = self

        class Handler(BaseHTTPRequestHandler):
            # HTTP/1.1: connections persist across requests (every
            # response carries Content-Length), so a bench client or
            # sidecar reuses one connection instead of paying a TCP
            # handshake per document
            protocol_version = "HTTP/1.1"
            # idle persistent connections must not pin handler threads
            # forever (slowloris / gone-away clients): a read that
            # stalls this long closes the connection
            timeout = server.idle_timeout
            # TCP_NODELAY: with Nagle on, the partial last segment of a
            # response waits for the client's ACK of the previous one,
            # which a delayed ACK holds back ~40 ms on Linux
            disable_nagle_algorithm = True

            def log_message(self, *a):  # quiet test output
                pass

            def _send(self, code: int, body: bytes,
                      ctype: str = "application/json",
                      close: bool = False) -> None:
                # close=True for responses sent BEFORE the request body
                # was read (411/413/429 shed paths): the unread bytes
                # would desync the next request on a kept-alive socket
                self.send_response(code)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                if close:
                    self.send_header("Connection", "close")
                    self.close_connection = True
                # status line, headers, blank line and body in ONE write
                # (end_headers() would send the head on its own): a body
                # in a second small write can wait on the client's
                # delayed ACK of the head. HTTP/0.9 responses are the
                # bare body, as end_headers() sends them.
                if self.request_version != "HTTP/0.9":
                    self._headers_buffer.append(b"\r\n")
                    body = b"".join(self._headers_buffer) + body
                    self._headers_buffer = []
                self.wfile.write(body)

            def do_GET(self) -> None:
                path = urlparse(self.path).path
                if path == "/healthz":
                    self._send(200, json.dumps({
                        "status": "ok",
                        "active_config": server.active_config,
                        "config_hash": server.cfg.config_hash(),
                    }).encode())
                elif path == "/configs":
                    self._send(200, json.dumps({
                        "active": server.active_config,
                        "configs": {n: c.config_hash()
                                    for n, c in server.configs.items()},
                    }).encode())
                elif path == "/metrics":
                    self._send(200, server.metrics.render().encode(),
                               "text/plain; version=0.0.4")
                else:
                    self._send(404, b'{"error": "not found"}')

            def do_POST(self) -> None:
                parsed = urlparse(self.path)
                if parsed.path == "/config/swap":
                    name = parse_qs(parsed.query).get("name", [""])[0]
                    try:
                        cfg = server.swap_config(name)
                    except KeyError:
                        self._send(404, json.dumps(
                            {"error": f"unknown config {name!r}"}).encode(),
                            close=True)
                        return
                    # close: a swap request may carry an unread body
                    self._send(200, json.dumps({
                        "active": name,
                        "config_hash": cfg.config_hash()}).encode(),
                        close=True)
                    return
                if parsed.path != "/extract":
                    self._send(404, b'{"error": "not found"}', close=True)
                    return
                url = self.headers.get("X-Url") or parse_qs(
                    parsed.query).get("url", [""])[0]
                if not url:
                    self._send(400, b'{"error": "missing url"}',
                               close=True)
                    return
                # size gate + admission BEFORE reading the body: with one
                # thread per connection, max_pending must bound MEMORY as
                # well as concurrency — a shed or oversized request must
                # never buffer its payload
                n = int(self.headers.get("Content-Length") or 0)
                if n <= 0 and self.headers.get("Transfer-Encoding"):
                    self._send(411, b'{"error": "length required"}',
                               close=True)
                    return
                if n > server.max_body_bytes:
                    with server.metrics._lock:
                        server.metrics.rejected_total += 1
                    self._send(413, b'{"error": "payload too large"}',
                               close=True)
                    return
                # bounded admission: shed load instead of queueing
                # unboundedly (reference LAYPA_MAX_QUEUE_SIZE -> 429)
                if not server._admission.acquire(blocking=False):
                    with server.metrics._lock:
                        server.metrics.rejected_total += 1
                    self._send(429, b'{"error": "queue full"}',
                               close=True)
                    return
                with server.metrics._lock:
                    server.metrics.inflight += 1
                try:
                    payload = self.rfile.read(n) if n else b""
                    row = server._extract(url, payload)
                    body = json.dumps(row).encode()
                    self._send(200, body)
                finally:
                    with server.metrics._lock:
                        server.metrics.inflight -= 1
                    server._admission.release()

        return Handler
