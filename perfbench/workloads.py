"""The benchmark's workloads. Each takes a :class:`Ctx` and returns an
:class:`~harness.Outcome`: set-up time, the timed operations, failure
counts, correctness checks and, in a traced run, per-layer metrics.

Inputs are generated from the seed through ``webextract.fixtures``; the
program receives only the generated inputs.
"""

from __future__ import annotations

import http.client
import json
import os
import random
import shutil
import subprocess
import sys
import threading
import time
from dataclasses import dataclass
from pathlib import Path

from harness import (
    JobRun,
    Outcome,
    comparable,
    cores,
    extractor_layers,
    log,
    median,
    merge_groups,
    percentile,
    read_event_log,
    site_table,
    spark_layer,
    spark_session,
    stop_jvm,
    tail_percentile,
    timed_job,
)

HERE = Path(__file__).resolve().parent
clock = time.perf_counter

SETUP_REPEATS = 3   # set-up is repeated and its median reported
WARM_S = 15.0       # Spark workloads: passes run untimed for this long;
                    # after 6 s, pass times still fell by up to a third
TRACE_S = 10.0      # a traced run's timed loop runs at most this long
SAMPLE_PAGES = 50   # seeded sample checked against extract_record
BODY_KEEP_EVERY = 20  # every n-th served response body is checked

# page counts and page shapes per --size; "tiny" is for the self-test
SIZES = {
    "full": {"extract_pages": 1000, "resume_pages": 600, "serve_pages": 400,
             "body_scale": 150, "giant_repeat": 20000,
             "extract_giant_every": 500, "resume_giant_every": 50},
    "tiny": {"extract_pages": 60, "resume_pages": 80, "serve_pages": 40,
             "body_scale": 2, "giant_repeat": 200,
             "extract_giant_every": 20, "resume_giant_every": 20},
}
RESUME_DUP_EVERY = 25     # ~4% of rows are duplicated urls
RESUME_NEW_EVERY = 10     # ~10% of distinct urls were never committed


@dataclass
class Ctx:
    work: Path
    seed: int
    seconds: float
    trace: bool
    size: dict
    sf_dir: str | None = None


def _timed_loop(seconds: float, step) -> list:
    """Call ``step(i)`` until ``seconds`` have elapsed (at least once)."""
    out, start, i = [], clock(), 0
    while i == 0 or clock() - start < seconds:
        out.append(step(i))
        i += 1
    return out


def _is_giant(url: str, giant_every: int) -> bool:
    """The fixture's giant rule (``fixtures.render_page``); the page index
    ends its url."""
    i = int(url.rsplit("/", 1)[1])
    return i % 10 == 8 and i % giant_every == 8


def _read_docs(path: Path) -> list[tuple[str, bytes | None]]:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["url", "html"])
    return list(zip(t.column("url").to_pylist(),
                    t.column("html").to_pylist()))


def _build_pages(spark, ctx: Ctx, n: int, giant_every: int):
    from webextract.fixtures import pages_dataframe

    return pages_dataframe(spark, n, seed=ctx.seed,
                           num_partitions=2 * cores(),
                           giant_every=giant_every,
                           giant_repeat=ctx.size["giant_repeat"],
                           body_scale=ctx.size["body_scale"])


def _opts():
    """Partitions per run: twice the cores, at least 8 (the rule
    ``__spark_entry__`` uses for its extraction queries)."""
    from webextract.pipeline import PipelineOptions

    return PipelineOptions(num_partitions=max(2 * cores(), 8))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _restart_traced(spark, ctx: Ctx):
    """Replace the untraced session by one that writes the event log."""
    spark.stop()
    return spark_session(ctx.work, trace=True)


def _commit_most(spark, ctx: Ctx, inp: str, base: Path) -> None:
    """Extract ~90% of the urls of ``inp`` into the sink ``base``: the
    state a resumed crawl finds."""
    from pyspark.sql import functions as F

    from webextract.pipeline import read_pages, run_extraction

    run_extraction(spark, read_pages(spark, inp).filter(
        F.pmod(F.xxhash64("url", F.lit(ctx.seed + 1)),
               F.lit(RESUME_NEW_EVERY)) != 0), str(base), opts=_opts())


def _resume_checks(out: Outcome, group: str, written: int, metrics: dict,
                   urls: list[str], distinct: set[str], new: set[str]) -> None:
    """A resumed run wrote exactly the never-committed urls, its metrics
    rows reconcile, and the sink holds one row per distinct url."""
    out.check(f"{group}: rows_written_equals_new_urls",
              written == len(new), f"{written} written, {len(new)} new")
    out.check(f"{group}: metrics_rows_reconcile",
              sum(metrics["n_rows"]) == written,
              f"metrics n_rows {sum(metrics['n_rows'])}, written {written}")
    out.check(f"{group}: one_sink_row_per_distinct_url",
              len(urls) == len(distinct) and set(urls) == distinct,
              f"{len(urls)} sink rows, {len(distinct)} distinct urls")


def _plan_todo_job(spark, inp: str, base: Path) -> JobRun:
    from webextract.pipeline import completed_urls, plan_todo, read_pages

    return timed_job(spark, "plan_todo", "pipeline.plan_todo", lambda: _noop(
        plan_todo(read_pages(spark, inp), completed_urls(spark, str(base)))))


def _resume_layers(spark, ctx: Ctx, inp: str, docs: list,
                   out: Outcome) -> dict:
    """``pipeline.plan_todo_s`` and ``pipeline.rows_written`` for a page
    set that is not resumed in its timed operation: commit ~90% of its
    urls, time ``plan_todo`` against them, then resume into that sink
    once and check the result."""
    import pyarrow.parquet as pq

    from webextract.pipeline import read_pages, run_extraction

    base, metrics = ctx.work / "resume_sink", ctx.work / "resume_metrics"
    _commit_most(spark, ctx, inp, base)
    committed = set(pq.read_table(base, columns=["url"])
                    .column("url").to_pylist())
    distinct = {u for u, _ in docs}
    todo = _plan_todo_job(spark, inp, base)
    written = timed_job(spark, "resume", "pipeline.resume",
                        lambda: run_extraction(
                            spark, read_pages(spark, inp), str(base),
                            str(metrics), opts=_opts())).result["rows_written"]
    _resume_checks(out, "resume", written, pq.read_table(metrics).to_pydict(),
                   pq.read_table(base, columns=["url"]).column("url")
                   .to_pylist(), distinct, distinct - committed)
    return {"pipeline.plan_todo_s": todo.wall_s,
            "pipeline.rows_written": written}


def _spark_trace(out: Outcome, ctx: Ctx, runs: dict[str, JobRun]) -> None:
    """Stop the JVM, then fill ``spark.*`` and the per-site table from the
    event log of the traced session."""
    stop_jvm()
    groups = read_event_log(ctx.work)
    out.layers.update(spark_layer(groups, runs))
    out.sites = site_table(groups)


# -- extract_mix ------------------------------------------------------------


def extract_mix(ctx: Ctx) -> Outcome:
    """Bench page mix → ``extract_dataframe`` → noop sink."""
    from pyspark.sql import Observation, functions as F

    from webextract.extract import extract_record
    from webextract.pdf_extract import is_pdf
    from webextract.pipeline import (
        extract_dataframe,
        read_pages,
        salted_repartition,
    )

    giant_every = ctx.size["extract_giant_every"]
    t0 = clock()
    spark = spark_session(ctx.work, trace=False)
    session_s = clock() - t0
    log("session started")
    path = str(ctx.work / "pages.parquet")
    builds = []
    for _ in range(SETUP_REPEATS):
        t0 = clock()
        _build_pages(spark, ctx, ctx.size["extract_pages"], giant_every) \
            .write.mode("overwrite").parquet(path)
        builds.append(clock() - t0)
    out = Outcome(setup_s=session_s + median(builds))
    log(f"input built: {builds}")
    docs = _read_docs(Path(path))
    n_in = len(docs)

    def extracted(name: str):
        obs = Observation(name)
        df = extract_dataframe(read_pages(spark, path), opts=_opts()).observe(
            obs, F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("error").isNotNull().cast("long")).alias("errors"),
            F.sum("parse_us").alias("parse_us"))
        return df, obs

    # untimed first pass: warms the Python workers and is the pass whose
    # rows are compared with extract_record
    rng = random.Random(ctx.seed)
    chosen = {u: p for u, p in docs
              if _is_giant(u, giant_every) or (p and is_pdf(p))}
    n_giants = sum(_is_giant(u, giant_every) for u in chosen)
    n_pdfs = len(chosen) - n_giants
    chosen.update(rng.sample(docs, min(SAMPLE_PAGES, n_in)))
    log("check pass")
    df, obs = extracted("check")
    run = timed_job(spark, "check", "extract_mix.check", lambda: df.filter(
        F.col("url").isin(list(chosen))).collect())
    got = {r["url"]: comparable(r.asDict(recursive=True)) for r in run.result}
    bad = [u for u, p in chosen.items()
           if got.get(u) != comparable(extract_record(u, p))]
    out.check("rows_out_equal_rows_in", obs.get["rows"] == n_in,
              f"{obs.get['rows']} rows out, {n_in} in")
    out.check("giants_pdfs_sample_identical_to_extract_record",
              not bad and n_giants > 0 and n_pdfs > 0,
              f"{len(chosen)} checked ({n_giants} giants, {n_pdfs} pdfs), "
              f"{len(bad)} differ")

    def one_pass(group: str, site: str) -> tuple[JobRun, dict]:
        df, obs = extracted(group)
        return timed_job(spark, group, site, lambda: _noop(df)), obs.get

    log("checked; warm-up, timed passes")
    _timed_loop(WARM_S, lambda i: one_pass(f"warm{i}", "extract_mix.warm"))
    passes = _timed_loop(ctx.seconds,
                         lambda i: one_pass(f"pass{i}", "extract_mix.pass"))
    out.check("every_pass_rows_equal_rows_in",
              all(m["rows"] == n_in for _, m in passes))
    out.op_s = [r.wall_s for r, _ in passes]
    out.docs_per_s = n_in / median(out.op_s)
    out.attempted = sum(m["rows"] + r.tasks for r, m in passes)
    out.failed = sum(m["errors"] + r.failed_tasks for r, m in passes)
    out.name("extract_docs_per_s", out.docs_per_s, "docs/s",
             samples=len(passes), docs_per_pass=n_in)
    if not ctx.trace:
        return out

    log("traced session")
    spark = _restart_traced(spark, ctx)
    _timed_loop(WARM_S, lambda i: one_pass(f"twarm{i}", "extract_mix.warm"))
    traced = _timed_loop(min(ctx.seconds, TRACE_S),
                         lambda i: one_pass(f"tpass{i}", "extract_mix.pass"))
    scan = timed_job(spark, "scan_route", "pipeline.scan_route", lambda: _noop(
        salted_repartition(read_pages(spark, path).select("url", "html"),
                           _opts())))
    out.layers.update(_resume_layers(spark, ctx, path, docs, out))
    traced_s = median([r.wall_s for r, _ in traced])
    parse_s = median([m["parse_us"] for _, m in traced]) / 1e6
    _spark_trace(out, ctx, {f"tpass{i}": r for i, (r, _) in enumerate(traced)})
    out.layers.update({
        "pipeline.parse_s": parse_s,
        "pipeline.spark_overhead_s": traced_s - parse_s / cores(),
        "pipeline.scan_route_s": scan.wall_s,
        "trace.overhead_pct": (traced_s / median(out.op_s) - 1) * 100,
    })
    out.layers.update(extractor_layers(docs, out))
    return out


# -- resume_recrawl ---------------------------------------------------------


def resume_recrawl(ctx: Ctx) -> Outcome:
    """Giant-heavy mix with duplicated urls against a sink that already
    holds ~90% of them → ``run_extraction`` to a parquet sink + metrics."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from webextract.pipeline import (
        read_pages,
        run_extraction,
        salted_repartition,
    )

    t0 = clock()
    spark = spark_session(ctx.work, trace=False)
    session_s = clock() - t0
    inp = str(ctx.work / "pages.parquet")
    base = ctx.work / "committed"
    builds = []
    for _ in range(SETUP_REPEATS):
        t0 = clock()
        pages = _build_pages(spark, ctx, ctx.size["resume_pages"],
                             ctx.size["resume_giant_every"])
        dups = pages.filter(F.pmod(F.xxhash64("url", F.lit(ctx.seed)),
                                   F.lit(RESUME_DUP_EVERY)) == 0)
        pages.unionByName(dups).write.mode("overwrite").parquet(inp)
        builds.append(clock() - t0)
    t0 = clock()
    _commit_most(spark, ctx, inp, base)
    out = Outcome(setup_s=session_s + median(builds) + clock() - t0)
    log(f"input and committed sink built: {builds}")

    docs = _read_docs(Path(inp))
    distinct = {u for u, _ in docs}
    committed = set(pq.read_table(base, columns=["url"])
                    .column("url").to_pylist())
    new = distinct - committed
    out.check("input_has_duplicate_urls", len(docs) > len(distinct),
              f"{len(docs)} rows, {len(distinct)} distinct urls")

    def one_run(group: str, site: str) -> tuple[JobRun, dict]:
        sink, metrics = ctx.work / f"sink_{group}", ctx.work / f"met_{group}"
        # hard links: a run only appends new files, never rewrites old ones
        shutil.copytree(base, sink, copy_function=os.link)
        run = timed_job(spark, group, site, lambda: run_extraction(
            spark, read_pages(spark, inp), str(sink), str(metrics),
            opts=_opts()))
        written = run.result["rows_written"]
        m = pq.read_table(metrics).to_pydict()
        urls = pq.read_table(sink, columns=["url"]).column("url").to_pylist()
        shutil.rmtree(sink)
        shutil.rmtree(metrics)
        _resume_checks(out, group, written, m, urls, distinct, new)
        return run, {"written": written, "errors": sum(m["n_failed"]),
                     "parse_s": sum(m["wall_ms"]) / 1000}

    log("warm runs")
    _timed_loop(WARM_S, lambda i: one_run(f"warm{i}", "resume_recrawl.warm"))
    log("timed runs")
    runs = _timed_loop(ctx.seconds,
                       lambda i: one_run(f"run{i}", "resume_recrawl.run"))
    out.op_s = [r.wall_s for r, _ in runs]
    out.docs_per_s = len(docs) / median(out.op_s)
    out.attempted = sum(s["written"] + r.tasks for r, s in runs)
    out.failed = sum(s["errors"] + r.failed_tasks for r, s in runs)
    out.name("resume_wall_s", median(out.op_s), "s", samples=len(runs),
             input_rows=len(docs), new_rows=len(new))
    if not ctx.trace:
        return out

    log("traced session")
    spark = _restart_traced(spark, ctx)
    _timed_loop(WARM_S, lambda i: one_run(f"twarm{i}", "resume_recrawl.warm"))
    traced = _timed_loop(min(ctx.seconds, TRACE_S),
                         lambda i: one_run(f"trun{i}", "resume_recrawl.run"))
    todo = _plan_todo_job(spark, inp, base)
    scan = timed_job(spark, "scan_route", "pipeline.scan_route", lambda: _noop(
        salted_repartition(read_pages(spark, inp).select("url", "html"),
                           _opts())))
    traced_s = median([r.wall_s for r, _ in traced])
    parse_s = median([s["parse_s"] for _, s in traced])
    _spark_trace(out, ctx, {f"trun{i}": r for i, (r, _) in enumerate(traced)})
    out.layers.update({
        "pipeline.parse_s": parse_s,
        "pipeline.spark_overhead_s": traced_s - parse_s / cores(),
        "pipeline.scan_route_s": scan.wall_s,
        "pipeline.plan_todo_s": todo.wall_s,
        "pipeline.rows_written": len(new),
        "trace.overhead_pct": (traced_s / median(out.op_s) - 1) * 100,
    })
    todo_docs = dict((u, p) for u, p in docs if u in new)
    out.layers.update(extractor_layers(sorted(todo_docs.items()), out))
    return out


# -- serve_closed -----------------------------------------------------------


class _Server:
    """``perfbench/server.py`` in a child process."""

    def __init__(self) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, str(HERE / "server.py")],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        self.port = int(self.proc.stdout.readline())
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=30)
        conn.request("GET", "/healthz")
        if conn.getresponse().status != 200:
            raise RuntimeError("extraction server is not healthy")
        conn.close()

    def close(self) -> None:
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


def _closed_loop(port: int, payloads: list, clients: int, seconds: float,
                 seed: int) -> list[tuple]:
    """``clients`` threads, each with one keep-alive connection, each
    sending its next POST when the previous reply has arrived. All walk
    one seeded permutation of the pages from evenly spaced offsets, so
    every run sends the same mix.
    Returns (latency_s, status, url, body) per request; latency is
    ``inf`` for a request that did not get a 200, and status ``None`` for
    one that failed in transport."""
    results: list[list[tuple]] = [[] for _ in range(clients)]
    start = threading.Barrier(clients)

    order = list(range(len(payloads)))
    random.Random(seed).shuffle(order)

    def client(c: int) -> None:
        i = c * len(order) // clients
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
        start.wait()
        deadline = clock() + seconds
        while clock() < deadline:
            url, payload = payloads[order[i % len(order)]]
            i += 1
            t0 = clock()
            try:
                conn.request("POST", "/extract", body=payload or b"",
                             headers={"X-Url": url})
                resp = conn.getresponse()
                body, status = resp.read(), resp.status
                latency = clock() - t0
            except (OSError, http.client.HTTPException):
                conn.close()
                conn = http.client.HTTPConnection("127.0.0.1", port,
                                                  timeout=60)
                body, status, latency = b"", None, float("inf")
            if status != 200:
                latency = float("inf")
            results[c].append((latency, status, url, body))
        conn.close()

    threads = [threading.Thread(target=client, args=(c,))
               for c in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return [r for rs in results for r in rs]


def serve_closed(ctx: Ctx) -> Outcome:
    """Closed-loop keep-alive POSTs of bench-mix pages to an
    ``ExtractServer`` in its own process, one client per core."""
    from webextract.extract import extract_record
    from webextract.fixtures import gen_pages

    setups = []
    for k in range(SETUP_REPEATS):
        t0 = clock()
        pages = gen_pages(ctx.size["serve_pages"], seed=ctx.seed,
                          giant_every=ctx.size["extract_giant_every"],
                          giant_repeat=ctx.size["giant_repeat"],
                          body_scale=ctx.size["body_scale"])
        server = _Server()
        setups.append(clock() - t0)
        if k < SETUP_REPEATS - 1:
            server.close()
    payloads = [(p["url"], p["html"]) for p in pages]
    out = Outcome(setup_s=median(setups))
    clients = cores()
    try:
        _closed_loop(server.port, payloads, clients, min(1.0, ctx.seconds),
                     ctx.seed + 1)  # warm-up, untimed
        t0 = clock()
        reqs = _closed_loop(server.port, payloads, clients, ctx.seconds,
                            ctx.seed)
        elapsed = clock() - t0
    finally:
        server.close()

    by_url = dict(payloads)
    served = [(u, json.loads(b)) for _, s, u, b in reqs if s == 200]
    sampled = served[::BODY_KEEP_EVERY]
    bad = sum(comparable(row) != comparable(json.loads(json.dumps(
        extract_record(u, by_url[u])))) for u, row in sampled)
    out.check("sampled_200_bodies_equal_extract_record",
              sampled and not bad, f"{len(sampled)} checked, {bad} differ")
    lat = [r[0] for r in reqs]
    ok = len(served)
    errors = sum(row["error"] is not None for _, row in served)
    rejected = sum(r[1] in (413, 429) for r in reqs)
    q = tail_percentile(len(lat))
    out.op_s = lat
    out.docs_per_s = ok / elapsed
    out.attempted = len(reqs)
    out.failed = len(reqs) - ok + errors
    p50_ms = percentile(lat, 50) * 1000
    out.name("serve_p50_ms", p50_ms, "ms", samples=len(lat))
    out.name(f"serve_p{q}_ms", percentile(lat, q) * 1000, "ms",
             samples=len(lat))
    out.name("serve_req_per_s", out.docs_per_s, "req/s", clients=clients,
             loop="closed")
    if not ctx.trace:
        return out

    direct = []
    for url, payload in payloads:
        t0 = clock()
        extract_record(url, payload)
        direct.append(clock() - t0)
    extract_ms = median(direct) * 1000
    out.layers.update({
        "serve.extract_ms": extract_ms,
        "serve.overhead_ms": p50_ms - extract_ms,
        "serve.rejected": rejected,
        "trace.overhead_pct": 0.0,  # nothing extra is recorded when traced
    })
    out.layers.update(extractor_layers(payloads, out))
    return out


# -- curate_chains (not in BENCHMARK.json; see README) -----------------------


_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
           "lineitem", "events", "documents", "embeddings")


def _canon_rows(cols: list[str], rows) -> list[tuple]:
    """Order-insensitive, column-order-insensitive row set (the rule of
    ``tests/test_oracle_parity.py``)."""
    def canon(v):
        if isinstance(v, float):
            return "nan" if v != v else round(v, 9)
        return v if v is None or isinstance(v, (int, str, bool)) else str(v)

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def curate_chains(ctx: Ctx) -> Outcome:
    """The four composed curation chains over the read-only tables at
    ``--sf-dir``, to a noop sink: a first pass in the fresh session, then
    steady passes. The seed does not apply. A traced run keeps the event
    log on from the start and adds per-chain metrics."""
    import duckdb
    import pyarrow.parquet as pq

    import __spark_entry__ as entry

    sf = ctx.sf_dir
    if not sf:
        raise SystemExit("curate_chains needs --sf-dir")
    t0 = clock()
    spark = spark_session(ctx.work, trace=ctx.trace)
    queries = entry.queries()  # builds the registry (and warms its memo)
    out = Outcome(setup_s=clock() - t0)
    chains = {
        "curate_full": lambda: queries["curate_full"](spark, sf),
        "curate_full_approx": lambda: entry.q_curate_full(
            spark, sf, budget_mode="approx"),
        "dedup_increment": lambda: queries["dedup_increment"](spark, sf),
        "dup_groups": lambda: queries["dup_groups"](spark, sf),
    }

    def one_pass(tag: str) -> dict[str, JobRun]:
        return {name: timed_job(spark, f"{tag}.{name}", name,
                                lambda: _noop(build()))
                for name, build in chains.items()}

    log("first pass")
    first = one_pass("first")
    log("steady passes")
    steady = _timed_loop(ctx.seconds, lambda i: one_pass(f"p{i}"))
    log("oracle check")
    duck = duckdb.connect()
    for t in _TABLES:
        duck.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    oracle = entry.oracle_sql()
    for name, build in chains.items():
        df = build()
        got = _canon_rows(df.columns, [tuple(r) for r in df.collect()])
        res = duck.execute(oracle[name.replace("_approx", "")]).fetchall()
        want = _canon_rows([d[0] for d in duck.description], res)
        out.check(f"{name}: rows_equal_oracle_sql", got == want,
                  f"{len(got)} rows (spark), {len(want)} (duckdb)")
    duck.close()

    out.op_s = [sum(r.wall_s for r in p.values()) for p in steady]
    docs = pq.read_metadata(f"{sf}/documents.parquet").num_rows
    out.docs_per_s = docs / median(out.op_s)
    runs = [first] + steady
    out.attempted = sum(r.tasks for p in runs for r in p.values())
    out.failed = sum(r.failed_tasks for p in runs for r in p.values())
    for name in chains:
        out.name(f"{name}_s", median([p[name].wall_s for p in steady]), "s",
                 samples=len(steady))
    out.name("chain_first_s", sum(r.wall_s for r in first.values()), "s")
    if not ctx.trace:
        return out

    stop_jvm()
    groups = read_event_log(ctx.work)
    out.sites = site_table(groups)
    passes = {f"p{i}": merge_groups([groups.get(f"p{i}.{name}")
                                     for name in p])
              for i, p in enumerate(steady)}
    out.layers.update(spark_layer(passes, {
        f"p{i}": JobRun(wall, 0, 0) for i, wall in enumerate(out.op_s)}))
    for name in chains:
        per = spark_layer(groups, {f"p{i}.{name}": p[name]
                                   for i, p in enumerate(steady)})
        out.layers.update({
            f"{name}.task_s": per.get("spark.task_s", 0.0),
            f"{name}.shuffle_mb": per.get("spark.shuffle_write_mb", 0.0),
            f"{name}.spill_mb": per.get("spark.spill_mb", 0.0),
            f"{name}.stages": per.get("spark.stages", 0),
            f"{name}.jobs": per.get("spark.jobs", 0),
            f"{name}.first_extra_s": first[name].wall_s
            - median([p[name].wall_s for p in steady]),
        })
    return out


WORKLOADS = {
    "extract_mix": extract_mix,
    "resume_recrawl": resume_recrawl,
    "serve_closed": serve_closed,
    "curate_chains": curate_chains,
}

# layer prefixes each workload exercises; the others are reported as 0
EXERCISES = {
    "extract_mix": ("html_extract", "pdf_extract", "extract", "pipeline",
                    "spark", "trace"),
    "resume_recrawl": ("html_extract", "pdf_extract", "extract", "pipeline",
                       "spark", "trace"),
    "serve_closed": ("html_extract", "pdf_extract", "serve", "trace"),
    "curate_chains": ("spark",),
}
