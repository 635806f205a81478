"""Serving entry (S13): HTTP scoring must be byte-identical to the batch
extractor, shed load with 429 instead of queueing unboundedly, expose
Prometheus counters, and spool served results to parquet readable by the
engine (no Spark needed for serving itself)."""

from __future__ import annotations

import json
import os
import pathlib
import socket
import statistics
import subprocess
import sys
import threading
import time
import urllib.request
import urllib.error

import pytest

from webextract.extract import extract_record
from webextract.fixtures import gen_pages
from webextract.serve import ExtractServer


@pytest.fixture()
def server(tmp_path):
    srv = ExtractServer(spool_dir=str(tmp_path / "spool"), flush_every=2)
    srv.start()
    yield srv
    srv.close()


def _post(port: int, url: str, payload: bytes):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/extract", data=payload,
        headers={"X-Url": url}, method="POST")
    with urllib.request.urlopen(req, timeout=30) as resp:
        return resp.status, json.loads(resp.read())


def _get(port: int, path: str):
    with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/{path}", timeout=10) as resp:
        return resp.status, resp.read().decode()


def test_served_result_matches_batch_extractor(server):
    for row in gen_pages(12, giant_every=0):
        status, got = _post(server.port, row["url"], row["html"])
        assert status == 200
        expect = extract_record(row["url"], row["html"])
        # identical row: same text, same span ids, same everything
        # (modulo JSON float round-trip, exact for these values)
        assert got["extracted_text"] == expect["extracted_text"]
        assert got["spans"] == expect["spans"]
        assert got["content_kind"] == expect["content_kind"]
        assert got["error"] == expect["error"]


def test_bad_requests(server):
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}/extract", data=b"x", method="POST")
    with pytest.raises(urllib.error.HTTPError) as exc:
        urllib.request.urlopen(req, timeout=10)
    assert exc.value.code == 400  # missing url
    with pytest.raises(urllib.error.HTTPError) as exc:
        urllib.request.urlopen(
            f"http://127.0.0.1:{server.port}/nope", timeout=10)
    assert exc.value.code == 404


def test_admission_control_rejects_when_full(tmp_path):
    srv = ExtractServer(max_pending=1)
    srv.start()
    try:
        # hold the only admission slot, then a request must get 429
        assert srv._admission.acquire(block=False)
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/extract", data=b"<p>x</p>",
            headers={"X-Url": "u"}, method="POST")
        with pytest.raises(urllib.error.HTTPError) as exc:
            urllib.request.urlopen(req, timeout=10)
        assert exc.value.code == 429
        srv._admission.release()
        # slot free again: request succeeds
        status, _ = _post(srv.port, "u", b"<p>hello world block</p>")
        assert status == 200
    finally:
        srv.close()


def test_oversized_body_rejected_before_read(tmp_path):
    srv = ExtractServer(max_body_bytes=64)
    srv.start()
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/extract", data=b"x" * 65,
            headers={"X-Url": "u"}, method="POST")
        with pytest.raises(urllib.error.HTTPError) as exc:
            urllib.request.urlopen(req, timeout=10)
        assert exc.value.code == 413
        # under the cap still works
        status, _ = _post(srv.port, "u", b"<p>small page body</p>")
        assert status == 200
    finally:
        srv.close()


def test_config_hot_swap(tmp_path):
    from webextract.config import ExtractConfig

    strict = ExtractConfig(min_region_size=10_000)  # drops every block
    srv = ExtractServer(configs={"strict": strict})
    srv.start()
    try:
        page = b"<p>plenty of ordinary body text here</p>"
        _, before = _post(srv.port, "u", page)
        assert before["extracted_text"]
        # swap to the strict config by name at runtime
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/config/swap?name=strict",
            method="POST")
        with urllib.request.urlopen(req, timeout=10) as resp:
            swapped = json.loads(resp.read())
        assert swapped["active"] == "strict"
        assert swapped["config_hash"] == strict.config_hash()
        _, after = _post(srv.port, "u", page)
        assert after["extracted_text"] == ""
        # healthz reports the active name; unknown names 404
        _, health = _get(srv.port, "healthz")
        assert json.loads(health)["active_config"] == "strict"
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/config/swap?name=nope",
            method="POST")
        with pytest.raises(urllib.error.HTTPError) as exc:
            urllib.request.urlopen(req, timeout=10)
        assert exc.value.code == 404
    finally:
        srv.close()


def test_metrics_and_health(server):
    _post(server.port, "u1", b"<p>some words in a block</p>")
    status, health = _get(server.port, "healthz")
    assert status == 200 and json.loads(health)["status"] == "ok"
    status, metrics = _get(server.port, "metrics")
    assert status == 200
    assert "webextract_requests_total 1" in metrics
    assert "webextract_inflight 0" in metrics


def test_spool_flushes_on_accumulated_bytes(tmp_path):
    # byte bound: payloads of 60 B against flush_bytes=100 -> the second
    # add crosses the bound and flushes mid-stream, the third lands in a
    # second file at close — even though flush_every (1000) never trips
    import pathlib

    import pyarrow.parquet as pq

    from webextract.serve import _Spool

    spool = _Spool(str(tmp_path / "bspool"), flush_every=1000,
                   flush_bytes=100)
    payload = b"x" * 60
    row = {"url": "u", "extracted_text": "t", "n_spans": 1,
           "content_kind": "html", "error": None}
    for i in range(3):
        spool.add({**row, "url": f"u{i}"}, payload)
    spool.close()
    files = list(pathlib.Path(tmp_path / "bspool").glob("*.parquet"))
    assert len(files) >= 2
    assert sum(pq.read_table(f).num_rows for f in files) == 3


def test_spool_parquet_readable(server, tmp_path):
    pages = gen_pages(5, giant_every=0)
    for row in pages[:4]:  # flush_every=2 -> at least 2 files
        _post(server.port, row["url"], row["html"])
    server.close()
    import pyarrow.parquet as pq
    import pathlib
    files = list(pathlib.Path(tmp_path / "spool").glob("*.parquet"))
    assert len(files) >= 2
    total = sum(pq.read_table(f).num_rows for f in files)
    assert total == 4
    cols = set(pq.read_table(files[0]).schema.names)
    # pages-schema columns (replayable input) + served-result extras
    assert {"url", "warc_ts", "html", "text", "lang",
            "n_spans", "content_kind"} <= cols


def test_spool_streaming_ingest_batch_parity(spark, tmp_path):
    """e2e across the three entry surfaces: HTTP serving -> parquet spool
    -> Structured Streaming ingest -> byte-identical to (a) the served
    JSON responses and (b) the batch pipeline over the same spool."""
    from webextract.pipeline import (
        PipelineOptions, extract_dataframe, ship_package,
    )
    from webextract.streaming import stream_extraction

    ship_package(spark)
    spool = str(tmp_path / "spool")
    srv = ExtractServer(spool_dir=spool, flush_every=3)
    srv.start()
    served = {}
    try:
        for row in gen_pages(10, giant_every=0):
            _, got = _post(srv.port, row["url"], row["html"])
            served[row["url"]] = got["extracted_text"]
    finally:
        srv.close()  # flushes the tail

    # streaming ingest of the spool (exactly-once via checkpoint)
    out = str(tmp_path / "stream_out")
    q = stream_extraction(spark, f"{spool}/*.parquet", out,
                          str(tmp_path / "cp"))
    q.awaitTermination(120)
    streamed = {r["url"]: r["extracted_text"]
                for r in spark.read.parquet(out).collect()}
    assert streamed == served

    # batch pipeline over the same spool input
    pages = spark.read.parquet(spool).select(
        "url", "warc_ts", "html", "text", "lang")
    batch = {r["url"]: r["extracted_text"]
             for r in extract_dataframe(
                 pages, opts=PipelineOptions(num_partitions=2)).collect()}
    assert batch == served


def test_keep_alive_connection_reuse(server):
    # HTTP/1.1: two extract requests over ONE connection; then a 413
    # (body never read) must close the socket so unread bytes cannot
    # desync a follow-up request
    import http.client

    conn = http.client.HTTPConnection("127.0.0.1", server.port, timeout=30)
    try:
        for i in range(2):
            conn.request("POST", "/extract",
                         body=b"<p>keep alive body</p>",
                         headers={"X-Url": f"u://ka/{i}"})
            resp = conn.getresponse()
            assert resp.status == 200
            got = json.loads(resp.read())
            assert got["extracted_text"] == "keep alive body"
            assert resp.will_close is False  # same socket serves both
        sock_before = conn.sock
        assert sock_before is not None

        # declare an oversized body without sending it: the server must
        # answer 413 from the header alone and close the connection
        # (it never reads the body, so keep-alive would desync)
        conn.putrequest("POST", "/extract")
        conn.putheader("X-Url", "u://ka/huge")
        conn.putheader("Content-Length", str(server.max_body_bytes + 1))
        conn.endheaders()
        resp = conn.getresponse()
        assert resp.status == 413
        resp.read()
        assert resp.will_close is True  # unread body -> server closes
    finally:
        conn.close()


@pytest.mark.parametrize("words", [3, 14_000])
def test_keep_alive_round_trip_does_not_stall(server, words):
    # a response sent as two writes (head, then body) with Nagle on
    # waits for the client's delayed ACK of the head, >= 40 ms per
    # request on Linux; one write with TCP_NODELAY answers in a few ms.
    # Covers a small response and one over the ~64 KiB loopback MSS.
    import http.client
    import statistics
    import time

    page = b"<p>" + b"word " * words + b"</p>"
    expect = extract_record("u://rt", page)["extracted_text"]
    conn = http.client.HTTPConnection("127.0.0.1", server.port, timeout=30)
    times = []
    try:
        for _ in range(20):
            t0 = time.perf_counter()
            conn.request("POST", "/extract", body=page,
                         headers={"X-Url": "u://rt"})
            resp = conn.getresponse()
            body = resp.read()
            times.append(time.perf_counter() - t0)
            assert resp.status == 200
            assert json.loads(body)["extracted_text"] == expect
    finally:
        conn.close()
    if words > 3:
        assert len(body) > 64 * 1024
    assert statistics.median(times) < 0.020, times


def test_idle_keep_alive_connection_is_closed(tmp_path):
    # a persistent connection that goes idle must not pin its handler
    # thread forever: the per-connection read timeout closes it
    import http.client
    import time

    srv = ExtractServer(spool_dir=str(tmp_path / "spool2"),
                        idle_timeout=0.5)
    srv.start()
    try:
        conn = http.client.HTTPConnection("127.0.0.1", srv.port,
                                          timeout=10)
        conn.request("POST", "/extract", body=b"<p>hello idle</p>",
                     headers={"X-Url": "u://idle/1"})
        resp = conn.getresponse()
        assert resp.status == 200 and resp.read()
        sock = conn.sock
        time.sleep(1.5)  # > idle_timeout: server should drop us
        sock.settimeout(5)
        assert sock.recv(64) == b""  # orderly close, thread released
        conn.close()
    finally:
        srv.close()


# -- one worker per core ------------------------------------------------------

multi_core = pytest.mark.skipif(
    len(getattr(os, "sched_getaffinity", lambda _: ())(0)) < 2,
    reason="the worker model needs at least two cores")


def _children(pid: int) -> set[int]:
    """Live child pids of ``pid`` (zombies awaiting their reaper count
    as gone)."""
    kids = set()
    for task in pathlib.Path(f"/proc/{pid}/task").glob("*"):
        try:
            kids.update(map(int, (task / "children").read_text().split()))
        except OSError:
            pass
    return {k for k in kids if not _gone(k)}


def _gone(pid: int) -> bool:
    try:
        stat = pathlib.Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return True
    return stat.rsplit(")", 1)[1].split()[0] == "Z"


def _port_free(port: int) -> bool:
    # SO_REUSEADDR, as a restarted server binds: TIME_WAIT leftovers of
    # served connections do not block it, a listener still open does
    with socket.socket() as s:
        s.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        try:
            s.bind(("127.0.0.1", port))
        except OSError:
            return False
        return True


def _post_each(port: int, n: int, page: bytes) -> list[tuple[int, dict]]:
    # n requests, each on a fresh connection, from twice as many client
    # threads as there are workers
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(2 * len(os.sched_getaffinity(0))) as pool:
        futs = [pool.submit(_post, port, f"u://each/{i}", page)
                for i in range(n)]
        return [f.result(timeout=60) for f in futs]


@multi_core
def test_workers_extract_concurrently():
    # a page that takes >= 200 ms to extract and answers in a few hundred
    # bytes (the links are boilerplate): one process would run two of
    # them back to back on one GIL, two workers run them side by side
    import http.client

    page = b"<html><body>" + b"".join(
        b"<div><a href='/p%d'>link number %d</a></div>" % (i, i)
        for i in range(30_000)) + b"<p>The one paragraph of body text.</p>"
    expect = extract_record("u://slow", page)["extracted_text"]
    srv = ExtractServer()
    srv.start()

    def timed(n: int) -> float:
        conns = []
        for _ in range(n):
            conn = http.client.HTTPConnection(
                "127.0.0.1", srv.port, timeout=60)
            conn.connect()
            conns.append(conn)
            # the accepting worker queues again behind the idle ones
            time.sleep(0.05)
        out = []

        def one(conn) -> None:
            conn.request("POST", "/extract", body=page,
                         headers={"X-Url": "u://slow"})
            out.append(json.loads(conn.getresponse().read())[
                "extracted_text"])

        threads = [threading.Thread(target=one, args=(c,)) for c in conns]
        t0 = time.perf_counter()
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        elapsed = time.perf_counter() - t0
        for conn in conns:
            conn.close()
        assert out == [expect] * n
        return elapsed

    try:
        # one request, then two, five times over: the median ratio rides
        # out a host whose speed drifts between runs
        pairs = [(timed(1), timed(2)) for _ in range(5)]
    finally:
        srv.close()
    assert statistics.median(one for one, _ in pairs) >= 0.2, pairs
    assert statistics.median(two / one for one, two in pairs) < 1.5, pairs


@multi_core
def test_metrics_sum_over_workers():
    # a lost update in any worker's counters would break the totals
    k = 48
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # the forked workers inherit it
    srv = ExtractServer()
    try:
        srv.start()
        results = _post_each(srv.port, k, b"<p>counted body text</p>")
        _, metrics = _get(srv.port, "metrics")
    finally:
        sys.setswitchinterval(old)
        srv.close()
    assert [status for status, _ in results] == [200] * k
    assert f"webextract_requests_total {k}\n" in metrics
    assert "webextract_inflight 0\n" in metrics
    assert "webextract_rejected_total 0\n" in metrics


@multi_core
def test_config_swap_reaches_every_worker():
    from webextract.config import ExtractConfig

    k = 24
    srv = ExtractServer(configs={"strict": ExtractConfig(
        min_region_size=10_000)})
    srv.start()
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/config/swap?name=strict",
            method="POST")
        with urllib.request.urlopen(req, timeout=10) as resp:
            assert resp.status == 200
        results = _post_each(srv.port, k,
                             b"<p>plenty of ordinary body text here</p>")
    finally:
        srv.close()
    assert [(s, r["extracted_text"]) for s, r in results] == [(200, "")] * k


@multi_core
def test_close_leaves_no_worker_and_frees_the_port():
    before = _children(os.getpid())
    srv = ExtractServer()
    srv.start()
    port = srv.port
    workers = _children(os.getpid()) - before
    assert len(workers) == len(os.sched_getaffinity(0)) - 1
    _post_each(port, 8, b"<p>some words in a block</p>")
    srv.close()
    assert _children(os.getpid()) == before
    assert all(_gone(pid) for pid in workers)
    assert _port_free(port)


@multi_core
def test_workers_exit_when_the_serving_process_is_killed():
    script = ("import sys, time\n"
              "from webextract.serve import ExtractServer\n"
              "print(ExtractServer().start(), flush=True)\n"
              "time.sleep(600)\n")
    proc = subprocess.Popen(
        [sys.executable, "-c", script], stdout=subprocess.PIPE, text=True,
        env={**os.environ, "PYTHONPATH": str(pathlib.Path(
            __file__).resolve().parents[1])})
    try:
        port = int(proc.stdout.readline())
        status, _ = _post(port, "u://orphan", b"<p>served before kill</p>")
        assert status == 200
        workers = _children(proc.pid)
        assert len(workers) == len(os.sched_getaffinity(0)) - 1
    finally:
        proc.kill()
        proc.wait(timeout=10)
    deadline = time.monotonic() + 2
    while time.monotonic() < deadline and not all(map(_gone, workers)):
        time.sleep(0.02)
    assert all(map(_gone, workers)), workers
    assert _port_free(port)


@multi_core
def test_serve_path_does_not_import_pyarrow():
    script = ("import sys\n"
              "import webextract.serve\n"
              "from webextract.extract import extract_record\n"
              "assert extract_record('u', b'<p>some body text</p>')"
              "['extracted_text']\n"
              "print(sorted(m for m in sys.modules\n"
              "             if m.split('.')[0] in ('pyarrow', 'numpy')))\n")
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        timeout=60, check=True,
        env={**os.environ, "PYTHONPATH": str(pathlib.Path(
            __file__).resolve().parents[1])})
    assert out.stdout.strip() == "[]"
