"""Shared machinery of the benchmark: the Spark session, peak memory of
the processes it starts, timing statistics, the environment record, the
Spark event-log reader and the single-process extractor pass that splits
a document's time into the extractor's layers.

Everything here calls the program only through its public functions;
nothing in ``webextract`` is patched or wrapped.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import platform
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path
from statistics import median

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".perfbench_work"
MB = 1024 * 1024


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"[perfbench +{time.perf_counter() - _T0:.1f}s] {msg}",
          file=sys.stderr, flush=True)


def cores() -> int:
    """Cores this process may run on (affinity mask, not the host count)."""
    return len(os.sched_getaffinity(0))


# -- results ----------------------------------------------------------------


@dataclass
class Check:
    name: str
    ok: bool
    detail: str = ""


@dataclass
class Outcome:
    """What one workload invocation measured."""

    setup_s: float
    op_s: list[float] = field(default_factory=list)  # timed operations
    docs_per_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    checks: list[Check] = field(default_factory=list)
    named: dict[str, dict] = field(default_factory=dict)   # workload metrics
    layers: dict[str, float] = field(default_factory=dict)  # traced run only
    sites: dict[str, dict] = field(default_factory=dict)    # spark per site

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append(Check(name, bool(ok), detail))

    def name(self, key: str, value: float, unit: str, **extra) -> None:
        self.named[key] = {"value": value, "unit": unit, **extra}


# -- statistics -------------------------------------------------------------


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile; ``inf`` entries (failed requests) sort
    last, so a failure counts as missing every latency limit."""
    xs = sorted(values)
    return xs[max(0, math.ceil(q / 100 * len(xs)) - 1)]


def tail_percentile(n: int) -> int:
    """Highest of p99/p95/p90/p50 that leaves at least ten samples
    beyond it."""
    for q in (99, 95, 90):
        if n * (100 - q) / 100 >= 10:
            return q
    return 50


# -- process tree memory ----------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat", "rb") as fh:
                raw = fh.read()
        except OSError:
            continue  # exited between listing and reading
        ppid = int(raw[raw.rfind(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry.name))
    return kids


def _proc_kb(path: str, key: str) -> int:
    try:
        with open(path) as fh:
            for line in fh:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass  # exited, or not readable
    return 0


def tree_memory_bytes(root: int) -> tuple[int, int]:
    """Of the descendants of ``root``: the summed proportional set size,
    in which pages shared between forked Python workers count once, not
    once per worker as summed RSS would; and the largest peak RSS the
    kernel recorded for one of them (``VmHWM``), which a peak shorter
    than the sampling interval still raises."""
    kids = _children()
    total = hwm = 0
    todo = list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        total += _proc_kb(f"/proc/{pid}/smaps_rollup", "Pss:")
        hwm = max(hwm, _proc_kb(f"/proc/{pid}/status", "VmHWM:"))
        todo.extend(kids.get(pid, ()))
    return total * 1024, hwm * 1024


class PeakMemory:
    """Samples the memory of the processes this one started (driver JVM,
    Python workers, the extraction server) on a background thread; the
    peak is the larger of the summed PSS and one process's own peak RSS.
    The benchmark's own process, which holds inputs and replies for
    checking, is not counted."""

    # reading smaps_rollup of a busy JVM costs up to ~80 ms of CPU; at
    # 0.5 s the sampler takes ~4% of a 4-core box from the workload
    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, *tree_memory_bytes(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# -- environment record -----------------------------------------------------


def _first_line(cmd: list[str]) -> str:
    try:
        out = subprocess.run(cmd, capture_output=True, text=True,
                             timeout=30, check=False)
    except OSError:
        return "unknown"
    lines = (out.stdout + out.stderr).strip().splitlines()
    return lines[0] if lines else "unknown"


def environment(seed: int, seed_applies: bool) -> dict:
    import pyarrow
    import pyspark

    cpu = "unknown"
    with open("/proc/cpuinfo") as fh:
        for line in fh:
            if line.startswith("model name"):
                cpu = line.split(":", 1)[1].strip()
                break
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    digest = hashlib.sha256()
    for py in sorted((ROOT / "webextract").rglob("*.py")):
        digest.update(str(py.relative_to(ROOT)).encode())
        digest.update(py.read_bytes())
    git = "unknown"
    if (ROOT / ".git").exists():
        git = _first_line(["git", "-C", str(ROOT), "rev-parse", "HEAD"])
    return {
        "cores": cores(),
        "cpu_model": cpu,
        "mem_total_mb": mem_kb // 1024,
        "python": platform.python_version(),
        "java": _first_line(["java", "-version"]),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "git_hash": git,
        "source_sha256": digest.hexdigest()[:16],
        "seed": seed,
        "seed_applies": seed_applies,
    }


# -- Spark ------------------------------------------------------------------


def spark_session(work: Path, trace: bool):
    """``local[cores]`` session whose files all stay under ``work``.
    ``trace=True`` writes an uncompressed JSON event log to
    ``work/eventlog`` for :func:`read_event_log`."""
    from pyspark.sql import SparkSession

    from webextract.pipeline import ship_package

    n = cores()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(2 * n))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        # a fixed-size heap, resident from the start: peak memory then
        # tracks the program, not how much of the heap the collector
        # had touched when the run ended
        .config("spark.driver.extraJavaOptions",
                f"-Xms2g -XX:+AlwaysPreTouch -Djava.io.tmpdir={work / 'tmp'}")
        .config("spark.eventLog.enabled", "true" if trace else "false")
    )
    if trace:
        (work / "eventlog").mkdir(parents=True, exist_ok=True)
        builder = (builder.config("spark.eventLog.dir", str(work / "eventlog"))
                   .config("spark.eventLog.compress", "false")
                   .config("spark.eventLog.rolling.enabled", "false"))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)
    return spark


def stop_jvm() -> None:
    """Stop the active SparkContext and the JVM behind it, and wait for
    the JVM (and with it the Python workers) to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


@dataclass
class JobRun:
    wall_s: float
    tasks: int
    failed_tasks: int
    result: object = None


def timed_job(spark, group: str, site: str, fn) -> JobRun:
    """Run ``fn`` with its Spark jobs under job group ``group`` and
    description ``site`` (the call site name the event log is grouped
    by); count its tasks through the status tracker."""
    sc = spark.sparkContext
    sc.setJobGroup(group, site)
    t0 = time.perf_counter()
    result = fn()
    wall = time.perf_counter() - t0
    tracker = sc.statusTracker()
    tasks = failed = 0
    for job_id in tracker.getJobIdsForGroup(group):
        job = tracker.getJobInfo(job_id)
        for stage_id in job.stageIds if job else ():
            stage = tracker.getStageInfo(stage_id)
            if stage is not None:
                tasks += stage.numCompletedTasks + stage.numFailedTasks
                failed += stage.numFailedTasks
    sc.setJobGroup("untimed", "untimed")
    return JobRun(wall, tasks, failed, result)


def read_event_log(work: Path) -> dict[str, dict]:
    """Per job group: stages, tasks and their metrics from the event log.
    Call after the session that wrote it has stopped."""
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    arrow_stages: set[int] = set()
    for path in (work / "eventlog").iterdir():
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = groups.setdefault(props.get("spark.jobGroup.id", ""), {
                        "site": props.get("spark.job.description", ""),
                        "jobs": 0, "stages": 0, "task_ms": [], "arrow_ms": [],
                        "failed_tasks": 0, "shuffle_write": 0,
                        "shuffle_read": 0, "spill": 0, "peak_mem": 0})
                    g["jobs"] += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_group[sid] = props.get("spark.jobGroup.id", "")
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    g = groups.get(stage_group.get(info["Stage ID"], ""))
                    if g is not None:
                        g["stages"] += 1
                    if any('"MapInArrow"' in (r.get("Scope") or "")
                           for r in info.get("RDD Info", ())):
                        arrow_stages.add(info["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    g = groups.get(stage_group.get(ev["Stage ID"], ""))
                    if g is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    run_ms = m.get("Executor Run Time", 0)
                    g["task_ms"].append(run_ms)
                    if ev["Stage ID"] in arrow_stages:
                        g["arrow_ms"].append(run_ms)
                    if ev["Task Info"].get("Failed"):
                        g["failed_tasks"] += 1
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    g["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0))
                    g["spill"] += m.get("Disk Bytes Spilled", 0)
                    g["peak_mem"] = max(g["peak_mem"],
                                        m.get("Peak Execution Memory", 0))
    return groups


def merge_groups(parts: list[dict | None]) -> dict:
    """One job group's record from several (e.g. the chains of a pass)."""
    parts = [g for g in parts if g is not None]
    merged = {"site": "", "task_ms": [], "arrow_ms": [], "peak_mem": 0}
    for g in parts:
        merged["task_ms"] += g["task_ms"]
        merged["arrow_ms"] += g["arrow_ms"]
        merged["peak_mem"] = max(merged["peak_mem"], g["peak_mem"])
    for key in ("jobs", "stages", "failed_tasks", "shuffle_write",
                "shuffle_read", "spill"):
        merged[key] = sum(g[key] for g in parts)
    return merged


def spark_layer(groups: dict[str, dict], runs: dict[str, JobRun]) -> dict:
    """``spark.*`` per-layer metrics of the job groups in ``runs`` (one
    group per timed operation), as the median over operations."""
    n = cores()
    per_op = []
    for group, run in runs.items():
        g = groups.get(group)
        if g is None:
            continue
        task_s = sum(g["task_ms"]) / 1000
        arrow = sorted(g["arrow_ms"])
        skew = (arrow[-1] / max(median(arrow), 1)) if arrow else 0.0
        per_op.append({
            "spark.task_s": task_s,
            "spark.idle_core_s": max(run.wall_s * n - task_s, 0.0),
            "spark.shuffle_write_mb": g["shuffle_write"] / MB,
            "spark.shuffle_read_mb": g["shuffle_read"] / MB,
            "spark.spill_mb": g["spill"] / MB,
            "spark.peak_exec_mem_mb": g["peak_mem"] / MB,
            "spark.jobs": g["jobs"],
            "spark.stages": g["stages"],
            "spark.tasks": len(g["task_ms"]),
            "spark.failed_tasks": g["failed_tasks"],
            "spark.task_skew": skew,
        })
    if not per_op:
        return {}
    return {k: median([op[k] for op in per_op]) for k in per_op[0]}


def site_table(groups: dict[str, dict]) -> dict[str, dict]:
    """Totals per call site (job description) over every group."""
    sites: dict[str, dict] = {}
    for g in groups.values():
        s = sites.setdefault(g["site"], {"jobs": 0, "stages": 0, "tasks": 0,
                                         "task_s": 0.0, "shuffle_mb": 0.0,
                                         "spill_mb": 0.0})
        s["jobs"] += g["jobs"]
        s["stages"] += g["stages"]
        s["tasks"] += len(g["task_ms"])
        s["task_s"] += sum(g["task_ms"]) / 1000
        s["shuffle_mb"] += g["shuffle_write"] / MB
        s["spill_mb"] += g["spill"] / MB
    return sites


# -- extractor layers -------------------------------------------------------


def extractor_layers(docs: list[tuple[str, bytes | None]], out: Outcome,
                     ) -> dict[str, float]:
    """A single-process pass over ``docs`` that calls the extractor's
    public stages in the order ``extract_html`` does, and the Arrow batch
    function over the same documents; checks that both agree.

    Documents go in Arrow batches of one Spark partition's share (the
    partitioning of the Spark workloads), and the two passes alternate
    which runs first per batch, so that load on the machine drifting
    during the pass does not land on one side of ``extract.arrow_s``."""
    import pyarrow as pa

    from webextract.config import DEFAULT_CONFIG as cfg
    from webextract.extract import make_extract_batches
    from webextract.html_extract import (
        assemble_spans,
        classify_block,
        decode_payload,
        extract_html,
        tokenize_blocks,
    )
    from webextract.pdf_extract import extract_pdf, is_pdf

    for url, payload in docs[:20]:  # warm caches before timing
        if payload:
            extract_html(url, payload[: cfg.max_html_bytes], cfg)
    t = dict.fromkeys(("decode", "tokenize", "classify", "assemble", "pdf",
                       "batch"), 0.0)
    n = {"blocks": 0, "kept": 0, "pdf": 0, "truncated": 0, "errors": 0,
         "compared": 0, "mismatched": 0}
    composed = {}
    produced = []
    clock = time.perf_counter
    fn = make_extract_batches(cfg, "perfbench")

    def compose(chunk) -> None:
        for url, payload in chunk:
            if not payload:
                continue
            if is_pdf(payload):
                t0 = clock()
                composed[url] = extract_pdf(url, payload, cfg)
                t["pdf"] += clock() - t0
                n["pdf"] += 1
                continue
            if len(payload) > cfg.max_html_bytes:
                n["truncated"] += 1
                payload = payload[: cfg.max_html_bytes]
            t0 = clock()
            text = decode_payload(payload)
            t1 = clock()
            blocks = tokenize_blocks(text)
            t2 = clock()
            kept = []
            for block in blocks:
                cls, conf = classify_block(block, cfg)
                if cls != "background":
                    kept.append((cls, conf, block))
            t3 = clock()
            composed[url] = assemble_spans(
                url, [(c, f, b.text()) for c, f, b in kept], cfg)
            t4 = clock()
            t["decode"] += t1 - t0
            t["tokenize"] += t2 - t1
            t["classify"] += t3 - t2
            t["assemble"] += t4 - t3
            n["blocks"] += len(blocks)
            n["kept"] += len(kept)

    def batch(chunk) -> None:
        rb = pa.RecordBatch.from_pydict({
            "url": [u for u, _ in chunk],
            "html": pa.array([p for _, p in chunk], pa.binary()),
        })
        t0 = clock()
        produced.extend(fn(iter([rb])))
        t["batch"] += clock() - t0

    def compare() -> None:
        # per chunk, then dropped: results kept alive across the pass
        # would slow the collector, and so the later documents' timings
        for rb in produced:
            cols = rb.to_pydict()
            for url, text, spans, err in zip(
                    cols["url"], cols["extracted_text"], cols["spans"],
                    cols["error"]):
                n["errors"] += err is not None
                want = composed.pop(url, None)
                if want is None:
                    continue
                n["compared"] += 1
                n["mismatched"] += (text != want.text or spans != [
                    s._asdict() for s in want.spans])
        produced.clear()

    rows = max(1, math.ceil(len(docs) / max(2 * cores(), 8)))
    for k, i in enumerate(range(0, len(docs), rows)):
        chunk = docs[i:i + rows]
        for step in ((compose, batch) if k % 2 == 0 else (batch, compose)):
            step(chunk)
        compare()
    out.check("extractor_stages_compose_to_extract_html",
              n["mismatched"] == 0 and not composed,
              f"{n['mismatched']} of {n['compared']} documents differ")
    extractor_s = sum(v for k, v in t.items() if k != "batch")
    return {
        "html_extract.decode_s": t["decode"],
        "html_extract.tokenize_s": t["tokenize"],
        "html_extract.classify_s": t["classify"],
        "html_extract.assemble_s": t["assemble"],
        "html_extract.blocks": n["blocks"],
        "html_extract.kept_ratio": (n["kept"] / n["blocks"]
                                    if n["blocks"] else 0.0),
        "html_extract.truncated_docs": n["truncated"],
        "pdf_extract.extract_s": t["pdf"],
        "pdf_extract.docs": n["pdf"],
        "extract.batch_s": t["batch"],
        "extract.arrow_s": t["batch"] - extractor_s,
        "extract.error_docs": n["errors"],
    }


def comparable(row: dict) -> dict:
    """An output row without the fields that legitimately differ between
    two extractions of one document (timing, task and run identity)."""
    return {k: v for k, v in row.items()
            if k not in ("parse_us", "partition_id", "run_id")}
