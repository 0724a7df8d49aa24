#!/usr/bin/env python
"""Executor-loss proof — materialize()'s documented failure mode,
demonstrated with a real killed executor process::

    python examples/executor_loss_proof.py

sparkplans/materialize.py documents the trade behind its routing:
``localCheckpoint`` is non-replicated executor-local state — lose an
executor after the cut and the partitions are gone AND unrecomputable
(lineage was truncated), while ``reliableCheckpoints=true`` writes
the cut to (distributed in production) storage that survives.  In
one-JVM local mode that claim is untestable: there is no executor to
lose.  This script tests it for real on ``local-cluster[2,1,1024]``:

1. build a frame, cut its lineage with :func:`materialize`, consume
   it once (so every partition is computed and stored on the two
   executor JVMs);
2. ``SIGKILL`` one executor process (found via its
   ``CoarseGrainedExecutorBackend`` command line — the same loss a
   preempted spot node inflicts);
3. consume the frame again:

   * **local (default) mode** — the job must FAIL: the killed
     executor's checkpoint blocks are gone, the replacement executor
     that the worker respawns has none of them, and Spark cannot
     recompute a truncated lineage.  (Spark retries the fetch, so
     the failure surfaces as FetchFailed/block-not-found after the
     respawn — NOT a hang.)
   * **reliable mode** — the same sequence must SUCCEED: partitions
     re-read from the checkpoint directory, identical result.

Each scenario runs in its own subprocess (fresh SparkContext).  Exit
0 = both behaved as documented.  This is deliberately a PROOF of the
failure, not just of the fix: if Spark ever started silently
recomputing truncated lineage (or the kill stopped reaching a real
separate process), scenario A's expected failure would vanish and
this script would flag it.
"""

from __future__ import annotations

import json
import subprocess
import sys
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_RUNNER = r"""
import json, os, signal, subprocess, sys, time
repo, reliable, out_path = sys.argv[1], sys.argv[2] == "true", sys.argv[3]
sys.path.insert(0, repo)
from sparkplans.session import EngineOptions, build_session
from sparkplans.materialize import DIR_KEY, RELIABLE_FLAG, materialize
from pyspark.sql import functions as F

extra = {
    # fail fast instead of retrying the dead fetch for minutes
    "spark.task.maxFailures": "2",
    "spark.stage.maxConsecutiveAttempts": "2",
}
ckdir = None
if reliable:
    import tempfile
    ckdir = tempfile.mkdtemp(prefix="sparkplans-loss-proof-")
    extra[RELIABLE_FLAG] = "true"
    extra[DIR_KEY] = ckdir

spark = build_session(
    EngineOptions(target_partitions=8, extra_conf=extra),
    app_name="executor-loss-proof",
    master="local-cluster[2,1,1024]",
)

df = materialize(
    spark.range(0, 200000, 1, 8).withColumn("x", F.col("id") % 97)
)
expected = df.agg(F.sum("x")).collect()[0][0]  # all partitions stored

app_id = spark.sparkContext.applicationId

def executor_pids():
    # scope to THIS app's executors (--app-id is on their command
    # line) so a concurrently running local-cluster session is safe
    out = subprocess.run(
        ["pgrep", "-f", f"CoarseGrainedExecutorBackend.*{app_id}"],
        capture_output=True, text=True,
    ).stdout.split()
    return [int(p) for p in out]

pids = executor_pids()
assert len(pids) >= 2, f"expected >=2 executor JVMs, found {pids}"
os.kill(pids[0], signal.SIGKILL)
# wait until the worker notices (respawn gives a NEW pid)
deadline = time.time() + 30
while time.time() < deadline and pids[0] in executor_pids():
    time.sleep(0.5)

result = {"reliable": reliable, "killed": pids[0], "n_executors": len(pids)}
try:
    got = df.agg(F.sum("x")).collect()[0][0]
    result["outcome"] = "succeeded"
    result["value_ok"] = bool(got == expected)
except Exception as exc:
    result["outcome"] = "failed"
    result["error"] = f"{type(exc).__name__}: {exc}"[:300]
json.dump(result, open(out_path, "w"))
spark.stop()
"""


def run_scenario(reliable: bool) -> dict:
    import tempfile

    with tempfile.NamedTemporaryFile(suffix=".json", delete=False) as f:
        out_path = f.name
    proc = subprocess.run(
        [sys.executable, "-c", _RUNNER, REPO,
         "true" if reliable else "false", out_path],
        capture_output=True,
        text=True,
        timeout=600,
    )
    try:
        with open(out_path) as f:
            res = json.load(f)
    except Exception:
        sys.stderr.write(proc.stdout[-3000:] + proc.stderr[-3000:])
        raise RuntimeError(
            f"scenario reliable={reliable} crashed rc={proc.returncode}"
        )
    finally:
        os.unlink(out_path)
    return res


def main() -> int:
    local = run_scenario(reliable=False)
    rel = run_scenario(reliable=True)
    print(json.dumps({"local_checkpoint": local, "reliable": rel}))
    ok = (
        local["outcome"] == "failed"
        and rel["outcome"] == "succeeded"
        and rel.get("value_ok") is True
    )
    print("PROOF OK" if ok else "PROOF FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
