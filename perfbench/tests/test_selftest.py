"""Self-test of the benchmark: the contract of BENCHMARK.json, and every
workload run at tiny size, traced and untraced, emitting every named
metric with its unit and running every correctness check.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
PREDICTIONS = json.loads(
    (ROOT / "perfbench" / "predictions.json").read_text())["per_layer"]
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

# check names each workload must report (resume prefixes them per run)
CHECKS = {
    "extract_mix": {"rows_out_equal_rows_in",
                    "giants_pdfs_sample_identical_to_extract_record",
                    "every_pass_rows_equal_rows_in"},
    # not in BENCHMARK.json; run by hand
    "resume_recrawl": {"input_has_duplicate_urls",
                       "rows_written_equals_new_urls",
                       "metrics_rows_reconcile",
                       "one_sink_row_per_distinct_url"},
    "serve_closed": {"sampled_200_bodies_equal_extract_record"},
    # not in BENCHMARK.json; runs only where PERFBENCH_SF_DIR names the
    # read-only tables it reads
    "curate_chains": {"rows_equal_oracle_sql"},
}
SF_DIR = os.environ.get("PERFBENCH_SF_DIR")
TRACE_CHECKS = {"extractor_stages_compose_to_extract_html"}
# a traced extract_mix run also resumes its pages into a sink once
TRACE_EXTRA = {"extract_mix": {"rows_written_equals_new_urls",
                               "metrics_rows_reconcile",
                               "one_sink_row_per_distinct_url"}}


def run_bench(cwd: Path, workload: str, trace: int,
              timeout: int = 300) -> subprocess.CompletedProcess:
    extra = ["--sf-dir", SF_DIR] if workload == "curate_chains" else []
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--size", "tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=timeout)


def test_benchmark_json_contract():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert SPEC["command"][:2] == ["python3", "perfbench/run.py"]
    assert SPEC["paths"] == ["perfbench"]
    assert 1 <= SPEC["run_seconds"] <= 60
    assert 2 <= len(SPEC["workloads"]) <= 8
    names = []
    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
        names.append(w["name"])
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
        names.append(m["name"])
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        names.append(m["name"])
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    assert all(NAME.match(n) for n in names)
    assert len(names) == len(set(names))
    setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def test_every_layer_metric_has_a_prediction():
    e2e = {m["name"] for m in SPEC["end_to_end"]}
    listed = {w["name"] for w in SPEC["workloads"]}
    assert set(PREDICTIONS) == {m["name"] for m in SPEC["per_layer"]}
    for preds in PREDICTIONS.values():
        assert any(p["on"] in listed for p in preds)
        for p in preds:
            assert p["moves"] in e2e and p["on"] in CHECKS
            assert p["size"] in ("large", "small", "none")


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(CHECKS))
def test_workload_emits_every_metric(workload, trace):
    if workload == "curate_chains" and not SF_DIR:
        pytest.skip("set PERFBENCH_SF_DIR to the read-only tables")
    proc = run_bench(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    detail = json.loads(lines[-2])["detail"]
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["attempted"] >= 1 and result["failed"] == 0
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        assert math.isfinite(got["value"])
    if not trace:
        assert all(result["metrics"][m["name"]]["value"] > 0 for m in spec)
    ran = {c["name"].split(": ")[-1] for c in detail["checks"]}
    assert CHECKS[workload] <= ran
    if trace and workload != "curate_chains":
        assert TRACE_CHECKS | TRACE_EXTRA.get(workload, set()) <= ran
    env = detail["environment"]
    assert env["cores"] >= 1 and env["seed"] == 3
    assert env["seed_applies"] == (workload != "curate_chains")
    for key in ("cpu_model", "mem_total_mb", "java", "spark", "pyarrow",
                "git_hash"):
        assert key in env


def test_fails_without_the_program(tmp_path):
    """Where only BENCHMARK.json and the benchmark's own files exist, the
    benchmark exits non-zero without printing a result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = run_bench(tmp_path, "extract_mix", 0, timeout=170)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
