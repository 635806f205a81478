"""The webextract benchmark: one workload per invocation.

    python3 perfbench/run.py --workload extract_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. ``--trace 0`` measures the end-to-end
metrics with tracing off; ``--trace 1`` repeats the timed operations with
the Spark event log on and adds single-process passes per layer, and
reports the per-layer metrics. Both check the program's outputs.

Standard output ends with two JSON lines: a detail record (environment,
workload metrics named by workload, checks, Spark per call site), then
the result ``{"correct", "attempted", "failed", "metrics"}`` whose
metrics are the ``end_to_end`` (trace 0) or ``per_layer`` (trace 1)
entries of ``BENCHMARK.json``. Exits 1 if a correctness check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

from harness import (
    ROOT,
    WORK_ROOT,
    PeakMemory,
    environment,
    log,
    median,
    stop_jvm,
)
from workloads import EXERCISES, SIZES, WORKLOADS, Ctx


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full",
                    help="input size; 'tiny' is for the self-test")
    ap.add_argument("--sf-dir", help="curate_chains only: directory of the "
                    "read-only documents/... parquet tables")
    return ap.parse_args(argv)


def layer_metrics(workload: str, layers: dict, spec: list[dict]) -> dict:
    """Every per-layer metric of ``spec``; layers the workload does not
    exercise did no work and read 0."""
    out = {}
    for m in spec:
        name = m["name"]
        if name in layers:
            value = layers[name]
        elif name.split(".")[0] not in EXERCISES[workload]:
            value = 0
        else:
            raise RuntimeError(f"{workload} did not measure {name}")
        out[name] = {"value": value, "unit": m["unit"]}
    return out


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (ROOT / "webextract").is_dir():
        print(f"perfbench: no webextract package under {ROOT}; run from "
              "the root of a full checkout", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    sys.path.insert(0, str(ROOT))
    work = WORK_ROOT / f"{args.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")  # Python-side temp files too
    tempfile.tempdir = None
    ctx = Ctx(work=work, seed=args.seed, seconds=args.seconds,
              trace=bool(args.trace), size=SIZES[args.size],
              sf_dir=args.sf_dir)
    try:
        with PeakMemory() as mem:
            log(f"{args.workload} seed={args.seed} trace={args.trace}")
            try:
                out = WORKLOADS[args.workload](ctx)
            finally:
                stop_jvm()
            log("done")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    correct = all(c.ok for c in out.checks)
    if args.trace:
        metrics = layer_metrics(args.workload, out.layers, spec["per_layer"])
    else:
        values = {
            "setup_s": out.setup_s,
            "docs_per_s": out.docs_per_s,
            "op_p50_ms": median(out.op_s) * 1000,
            "peak_mem_mb": mem.peak / (1024 * 1024),
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    named = dict(out.named)
    named["setup_s"] = {"value": out.setup_s, "unit": "s"}
    named["peak_mem_mb"] = {"value": mem.peak / (1024 * 1024), "unit": "MB"}
    named["failed_share"] = {"value": out.failed / max(out.attempted, 1),
                             "unit": "ratio", "failed": out.failed,
                             "attempted": out.attempted}
    detail = {
        "workload": args.workload,
        "trace": args.trace,
        "seconds": args.seconds,
        "size": args.size,
        "environment": environment(
            args.seed, seed_applies=args.workload != "curate_chains"),
        "named": named,
        "op_s": out.op_s if len(out.op_s) <= 64 else None,
        "checks": [c.__dict__ for c in out.checks],
        "spark_sites": out.sites,
        "other_layers": {k: v for k, v in out.layers.items()
                         if k not in metrics},
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": correct, "attempted": max(out.attempted, 1),
                      "failed": out.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
