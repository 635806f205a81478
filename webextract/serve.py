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

Worker model: extraction is pure CPU-bound Python, so one process
serializes every request on its GIL. ``start()`` therefore forks one
worker per core of the affinity mask (``os.sched_getaffinity``; narrow it
with ``taskset`` or a cpuset), the serving process being one of them —
the reference scales out as N server processes, and this moves that
inside the server.

- **Blocking accept on one shared socket.** The listener is bound once,
  before the fork. Each worker has one thread blocked in ``accept()``;
  Linux wakes exclusive accept waiters in FIFO order, so connections
  spread round-robin over the workers (a ``select`` loop per worker
  wakes them all and the first to run takes the connection, which piles
  keep-alive connections onto a few workers). Every accepted connection
  gets its own handler thread, as in ``ThreadingHTTPServer``.
- **Shared admission, metrics and config.** One cross-process bounded
  semaphore of ``max_pending`` bounds admission in total, not per
  worker; ``/metrics`` sums one counter row per worker from shared
  memory under the same names; the active config is a shared index, so
  ``swap_config()`` / ``POST /config/swap`` reach every worker.
- **Per-worker spools.** Each worker buffers its own spool rows; file
  names are uuid-unique, and ``close()`` returns after every worker has
  flushed.
- **Warm, then freeze, then fork.** One inline page runs through the
  extractor and ``gc.freeze()`` moves the warm heap out of the
  collector's reach before the fork, so the workers share its pages
  instead of copying them on the first collection.
- **Exit.** ``close()`` shuts the listener down, which wakes the blocked
  ``accept()`` in every worker; each flushes its spool and leaves through
  ``os._exit`` (no exit hooks of the process it was forked from), and
  the serving process reaps them. A worker whose serving process dies
  (even by SIGKILL) sees EOF on a pipe only that process writes to and
  exits, so no orphan keeps serving the socket.

The cluster-scale path remains the batch/streaming pipeline — this
endpoint is for interactive scoring and parity debugging.

No Spark session is required: the extractor is the same pure function
(``extract_record``) the executors run, so served results are
byte-identical to pipeline output for the same payload + config.
"""

from __future__ import annotations

import datetime as dt
import errno
import gc
import json
import mmap
import multiprocessing
import os
import signal
import socket
import struct
import sys
import threading
import time
import traceback
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from .config import DEFAULT_CONFIG, ExtractConfig
from .extract import extract_record


def _shared_cells(fmt: str, n: int) -> memoryview:
    """``n`` zeroed cells of struct format ``fmt`` in anonymous shared
    memory: forked workers see each other's writes."""
    return memoryview(mmap.mmap(-1, n * struct.calcsize(fmt))).cast(fmt)


class _Metrics:
    """Tiny Prometheus-text counter registry (A7 analog) over all workers.

    Each worker adds only to its own row of one shared counter array,
    under a lock of its own, so no update waits on another process;
    ``render`` sums the rows."""

    NAMES = ("requests_total", "errors_total", "rejected_total",
             "inflight", "latency_sum")

    def __init__(self, workers: int) -> None:
        self._lock = threading.Lock()
        self._cells = _shared_cells("d", workers * len(self.NAMES))
        self.row = 0  # this process's worker index, set after the fork

    def add(self, **deltas: float) -> None:
        base = self.row * len(self.NAMES)
        with self._lock:
            for name, delta in deltas.items():
                self._cells[base + self.NAMES.index(name)] += delta

    def total(self, name: str) -> float:
        return sum(self._cells[self.NAMES.index(name)::len(self.NAMES)])

    def render(self) -> str:
        t = {name: self.total(name) for name in self.NAMES}
        lines = [
            "# TYPE webextract_requests_total counter",
            f"webextract_requests_total {int(t['requests_total'])}",
            "# TYPE webextract_errors_total counter",
            f"webextract_errors_total {int(t['errors_total'])}",
            "# TYPE webextract_rejected_total counter",
            f"webextract_rejected_total {int(t['rejected_total'])}",
            "# TYPE webextract_inflight gauge",
            f"webextract_inflight {int(t['inflight'])}",
            "# TYPE webextract_latency_seconds_sum counter",
            f"webextract_latency_seconds_sum {round(t['latency_sum'], 6)}",
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


# one page that runs the HTML path end to end, to warm the extractor
# before the workers fork
_WARMUP_PAGE = (
    b"<html><head><title>warm</title></head><body>"
    b"<nav><a href='/'>home</a> <a href='/about'>about</a></nav>"
    b"<article><h1>Warm-up heading</h1><p>" + b"Body text of the page. " * 20
    + b"</p><ul><li>first item</li><li>second item</li></ul></article>"
    b"<footer>footer &amp; links</footer></body></html>")

# the shared primitives must survive a plain os.fork(): "fork"-context
# semaphores are unlinked at creation and need no resource tracker
_FORK = multiprocessing.get_context("fork")


def _worker_count() -> int:
    """One worker per core this process may run on."""
    if not hasattr(os, "sched_getaffinity"):
        return 1
    return len(os.sched_getaffinity(0))


def _exit_on_eof(fd: int) -> None:
    """Worker side of the parent-death pipe: only the serving process
    holds the write end, so EOF means it is gone."""
    os.read(fd, 1)
    os._exit(1)


class ExtractServer:
    """Threaded HTTP server wrapping the pure extractor, one forked
    worker per core (see the module docstring).

    ``start()`` returns the bound port (pass ``port=0`` for ephemeral);
    ``close()`` stops every worker and flushes the spools.
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
        # config is read once per request, so an in-flight request
        # finishes on the config it was admitted with. The active name
        # is an index into the registry in shared memory, so a swap in
        # one worker reaches all of them.
        self.configs = {"default": cfg, **(configs or {})}
        self._active = _shared_cells("q", 1)
        self.max_body_bytes = max_body_bytes
        self.idle_timeout = idle_timeout
        self._workers = _worker_count()
        self.metrics = _Metrics(self._workers)
        self.spool = _Spool(spool_dir, flush_every, flush_bytes)
        self._admission = _FORK.BoundedSemaphore(max_pending)
        self._httpd = ThreadingHTTPServer((host, port), self._handler())
        self._thread: threading.Thread | None = None
        self._pids: list[int] = []
        self._alive_w: int | None = None  # write end of the death pipe

    @property
    def cfg(self) -> ExtractConfig:
        return self.configs[self.active_config]

    @property
    def active_config(self) -> str:
        return list(self.configs)[self._active[0]]

    def swap_config(self, name: str) -> ExtractConfig:
        """Switch the active config to a registered name (hot-swap)."""
        if name not in self.configs:
            raise KeyError(name)
        self._active[0] = list(self.configs).index(name)
        return self.configs[name]

    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    def start(self) -> int:
        if self._workers > 1:
            self._fork_workers()
        self._thread = threading.Thread(target=self._accept_loop,
                                        daemon=True)
        self._thread.start()
        return self.port

    def close(self) -> None:
        try:
            # wakes the blocked accept() in every worker with EINVAL
            self._httpd.socket.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass  # closed already
        if self._thread is not None:
            self._thread.join(timeout=10)
        self._httpd.server_close()
        self.spool.close()
        self._reap_workers()

    # -- workers --------------------------------------------------------

    def _fork_workers(self) -> None:
        extract_record("u://warmup", _WARMUP_PAGE)
        if self.spool.dir is not None:
            # spool flushes need pyarrow: one shared copy, not one per worker
            import pyarrow.parquet  # noqa: F401
        gc.collect()
        gc.freeze()
        alive_r, self._alive_w = os.pipe()
        for row in range(1, self._workers):
            pid = os.fork()
            if pid == 0:
                self._worker(row, alive_r)  # never returns
            self._pids.append(pid)
        os.close(alive_r)

    def _worker(self, row: int, alive_r: int) -> None:
        """Body of a forked worker: serve until the listener shuts down,
        flush the spool, and exit without running the exit hooks of the
        process it was forked from."""
        code = 1
        try:
            os.close(self._alive_w)
            self.metrics.row = row
            threading.Thread(target=_exit_on_eof, args=(alive_r,),
                             daemon=True).start()
            self._accept_loop()
            self.spool.close()
            code = 0
        except BaseException:
            # os._exit below skips the interpreter's own report
            traceback.print_exc()
            sys.stderr.flush()
            raise
        finally:
            os._exit(code)

    def _accept_loop(self) -> None:
        """Block in accept() on the shared listener and hand every
        connection to a handler thread, until close() shuts it down."""
        httpd = self._httpd
        while True:
            try:
                request, addr = httpd.get_request()
            except OSError as exc:
                if exc.errno in (errno.EINVAL, errno.EBADF):
                    return  # the listener was shut down
                continue  # e.g. the client reset before accept()
            try:
                httpd.process_request(request, addr)
            except Exception:
                httpd.handle_error(request, addr)
                httpd.shutdown_request(request)

    def _reap_workers(self) -> None:
        deadline = time.monotonic() + 10
        for pid in self._pids:
            while os.waitpid(pid, os.WNOHANG)[0] == 0:
                if time.monotonic() > deadline:  # stuck: stop it
                    os.kill(pid, signal.SIGKILL)
                    os.waitpid(pid, 0)
                    break
                time.sleep(0.005)
        self._pids = []
        if self._alive_w is not None:
            os.close(self._alive_w)
            self._alive_w = None

    # -- request handling -----------------------------------------------

    def _extract(self, url: str, payload: bytes) -> dict:
        t0 = time.perf_counter()
        cfg = self.cfg  # one registry read; stable for this request
        row = extract_record(url, payload, cfg)
        self.metrics.add(requests_total=1,
                         latency_sum=time.perf_counter() - t0,
                         errors_total=row["error"] is not None)
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
                    server.metrics.add(rejected_total=1)
                    self._send(413, b'{"error": "payload too large"}',
                               close=True)
                    return
                # bounded admission: shed load instead of queueing
                # unboundedly (reference LAYPA_MAX_QUEUE_SIZE -> 429)
                if not server._admission.acquire(block=False):
                    server.metrics.add(rejected_total=1)
                    self._send(429, b'{"error": "queue full"}',
                               close=True)
                    return
                server.metrics.add(inflight=1)
                try:
                    payload = self.rfile.read(n) if n else b""
                    row = server._extract(url, payload)
                    body = json.dumps(row).encode()
                    self._send(200, body)
                finally:
                    server.metrics.add(inflight=-1)
                    server._admission.release()

        return Handler
