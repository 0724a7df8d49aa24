#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny scale.

    python3 perfbench/selftest.py

Runs every workload at sf0.001 with a fixed seed, untraced and traced,
and checks that each run is correct, that its last stdout line carries
every metric ``BENCHMARK.json`` names for that mode, with its unit and
a finite value, and that its context line carries the run metrics that
apply to the workload.  Then runs ``pipeline`` once more in this process
with the hash of every Spark-side result signature corrupted, and checks
that the run reports each checked query as failed.  Exits 0 when every
check passes.  Takes about five minutes on four cores.
"""

from __future__ import annotations

import contextlib
import io
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SMOKE = ["--seed", "7", "--seconds", "1", "--sf", "0.001"]


def committed() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def check_output(stdout: str, want: dict[str, str], workload: str) -> list[str]:
    """Problems with one run's last two stdout lines."""
    from run import RUN_METRICS

    lines = stdout.strip().splitlines()
    if len(lines) < 2:
        return ["fewer than two stdout lines"]
    context, result = json.loads(lines[-2])["context"], json.loads(lines[-1])
    bad = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        bad.append(f"result keys {sorted(result)}")
    if result.get("correct") is not True or result.get("failed") != 0:
        bad.append(f"not correct: {context.get('failures')}")
    if not (isinstance(result.get("attempted"), int) and result["attempted"] >= 1):
        bad.append(f"attempted {result.get('attempted')!r}")
    got = result.get("metrics", {})
    for name in sorted(set(want) ^ set(got)):
        bad.append(f"metric {name}: {'missing' if name in want else 'not in BENCHMARK.json'}")
    for name in sorted(set(want) & set(got)):
        m = got[name]
        if m.get("unit") != want[name]:
            bad.append(f"metric {name}: unit {m.get('unit')!r}, want {want[name]!r}")
        v = m.get("value")
        if not (isinstance(v, (int, float)) and math.isfinite(v)):
            bad.append(f"metric {name}: value {v!r}")
    own = set(RUN_METRICS) if workload == "ingest" else {
        "op_p50_s", "op_tail_s", "peak_rss_mb", "fail_ratio"}
    printed = context.get("run_metrics", {})
    for name in sorted(own - set(printed)):
        bad.append(f"context metric {name} missing")
    for name in sorted(own & set(printed)):
        if printed[name].get("unit") != RUN_METRICS[name]:
            bad.append(f"context metric {name}: unit {printed[name].get('unit')!r}")
    return bad


def smoke(workload: str, trace: int, want: dict[str, str]) -> list[str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--trace", str(trace), *SMOKE],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    if proc.returncode != 0:
        return [f"exit {proc.returncode}: {proc.stderr.strip().splitlines()[-1:]}"]
    return check_output(proc.stdout, want, workload)


def corrupted() -> list[str]:
    """A pipeline run whose Spark-side signatures all carry a wrong hash
    must count every checked query as failed."""
    import run
    import workloads

    real = workloads.result_signature

    def corrupt(cols, rows):
        n, names, digest = real(cols, rows)
        return n, names, digest[:-1] + ("1" if digest[-1] == "0" else "0")

    workloads.result_signature = corrupt
    out = io.StringIO()
    try:
        with contextlib.redirect_stdout(out):
            code = run.main(["--workload", "pipeline", "--trace", "0", *SMOKE])
    finally:
        workloads.result_signature = real
    if code != 0:
        return [f"corrupted run exited {code}"]
    result = json.loads(out.getvalue().strip().splitlines()[-1])
    want = len(workloads.PIPELINE_QUERIES)
    bad = []
    if result["correct"] is not False:
        bad.append("corrupted run reported correct")
    if result["failed"] != want:
        bad.append(f"corrupted run: {result['failed']} failed, want {want}")
    return bad


def main() -> int:
    sys.path[:0] = [HERE, ROOT]
    sys.path.append(os.path.join(ROOT, "tests"))
    import workloads

    bench = committed()
    modes = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    problems = []
    for workload in workloads.WORKLOADS:
        for trace, want in modes.items():
            found = smoke(workload, trace, want)
            print(f"{workload} --trace {trace}: {'ok' if not found else 'FAIL'}", flush=True)
            problems += [f"{workload} --trace {trace}: {p}" for p in found]
    found = corrupted()
    print(f"corrupted signature: {'caught' if not found else 'FAIL'}", flush=True)
    problems += found
    for p in problems:
        print("  " + p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
