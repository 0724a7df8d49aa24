"""Multi-process execution gate (examples/cluster_proof.py): the same
slate must hash identically on local[N] (one JVM, thread boundaries)
and local-cluster[2,C,M] (separate executor JVM processes + their own
python workers — real serialization, RPC task dispatch, per-executor
block managers).  The reference defers distributed plans
(docs/9_what_next.md:7); this repo claims them, so a process-boundary
divergence — broadcast model state that doesn't serialize, an
executor python worker that can't resolve a UDF closure, executor-
local checkpoint state gone missing — must fail CI, not a cluster.

The proof script runs each mode in its own subprocess (fresh
SparkContext, no py4j gateway reuse), so this test is safe beside the
session-scoped fixture other tests share.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# compact slate, one query per process-boundary shape: two-phase agg,
# broadcast join, bloom build->literal->probe round trip, Arrow UDF
# closure on executor python workers (BLAS cells), driver-fit model
# state (PCA eigenbasis), materialize()-backed lineage cut
SLATE = [
    "pricing_summary",
    "broadcast_join_agg",
    "bloom_prefilter_dedup",
    "embedding_near_dups",
    "pca_whitening",
    "cms_token_counts",
]


def test_local_cluster_python_udf_smoke():
    """Default-lane smoke of the heavy cluster gate: one Python-UDF
    query hash-identical on ``local[2]`` and ``local-cluster[2,1,1024]``.
    The cluster's executors are separate JVMs whose working directory
    is Spark's work dir, not the repo, so their Python workers can
    start ``sparkplans.worker_daemon`` only from the package root that
    ``build_session`` puts on ``spark.executorEnv.PYTHONPATH``; if they
    cannot, the query fails."""
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "examples", "cluster_proof.py"),
            "/root/testdata/sf0.001",
            "local-cluster[2,1,1024]",
            "pca_whitening",
        ],
        capture_output=True,
        text=True,
        timeout=600,
        env=dict(os.environ, SPARK_GRAFT_CPUS="2"),
        cwd=REPO,
    )
    assert proc.returncode == 0, (
        f"cluster smoke failed:\n{proc.stdout[-3000:]}\n{proc.stderr[-2000:]}"
    )
    assert "ok   pca_whitening" in proc.stdout, proc.stdout[-3000:]


@pytest.mark.heavy
def test_local_cluster_hash_identical():
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "examples", "cluster_proof.py"),
            "/root/testdata/sf0.001",
            "local-cluster[2,2,1024]",
            *SLATE,
        ],
        capture_output=True,
        text=True,
        timeout=900,
        env=env,
        cwd=REPO,
    )
    assert proc.returncode == 0, (
        f"cluster proof failed:\n{proc.stdout[-3000:]}\n{proc.stderr[-2000:]}"
    )
    assert "FAIL" not in proc.stdout, proc.stdout[-3000:]


@pytest.mark.heavy
def test_executor_loss_recovery_contract():
    """materialize()'s documented trade, proven with a real SIGKILL'd
    executor JVM (examples/executor_loss_proof.py): localCheckpoint
    state dies with its executor (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND —
    truncated lineage cannot recompute), reliableCheckpoints survives
    with an identical result.  Both directions are asserted: if Spark
    ever started recomputing truncated lineage, the expected failure
    disappearing would flag this contract as stale."""
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "examples", "executor_loss_proof.py"),
        ],
        capture_output=True,
        text=True,
        timeout=900,
        cwd=REPO,
    )
    assert proc.returncode == 0, (
        f"loss proof failed:\n{proc.stdout[-3000:]}\n{proc.stderr[-2000:]}"
    )
    assert "PROOF OK" in proc.stdout


@pytest.mark.heavy
def test_standalone_daemon_cluster_hash_identical():
    """The last execution rung (examples/daemon_cluster_proof.py):
    real spark:// Master/Worker daemon processes, executors forked by
    the WORKER's env (not the driver's), plus a reliableCheckpoints
    leg through a shared checkpoint store.  Three legs hash-compared
    on a compact slate at sf0.001; any RPC/env/serialization gap the
    pseudo-cluster hides fails here, not on a real cluster."""
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS="4",
        # keep clear of any concurrently-running default-port daemons
        SPARK_GRAFT_MASTER_PORT="7177",
        SPARK_GRAFT_MASTER_UI="8189",
    )
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "examples", "daemon_cluster_proof.py"),
            "/root/testdata/sf0.001",
            *SLATE,
        ],
        capture_output=True,
        text=True,
        timeout=900,
        env=env,
        cwd=REPO,
    )
    assert proc.returncode == 0, (
        f"daemon proof failed:\n{proc.stdout[-3000:]}\n{proc.stderr[-2000:]}"
    )
    assert "FAIL" not in proc.stdout, proc.stdout[-3000:]


@pytest.mark.heavy
def test_daemon_worker_kill_chaos_hash_identical():
    """Fault-tolerance rung on the REAL daemon topology (r5 verdict
    item 4): mid-slate, one executor JVM is kill -9'd, then worker 1's
    whole process group (daemon + executors) — node loss.  Lost
    shuffle blocks recompute via stage retry on the surviving worker;
    materialize() lineage cuts are RELIABLE checkpoints in the shared
    store, so results must be hash-identical to the clean daemon leg.
    Exit 0 asserts all of: zero mismatches, kills landed mid-slate,
    exactly one worker alive at teardown."""
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_MASTER_PORT="7178",
        SPARK_GRAFT_MASTER_UI="8289",
    )
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "examples", "daemon_cluster_proof.py"),
            "--kill-worker",
            "/root/testdata/sf0.001",
            *SLATE,
        ],
        capture_output=True,
        text=True,
        timeout=900,
        env=env,
        cwd=REPO,
    )
    assert proc.returncode == 0, (
        f"worker-kill chaos failed:\n{proc.stdout[-3000:]}\n"
        f"{proc.stderr[-2000:]}"
    )
    assert '"all_ok": true' in proc.stdout, proc.stdout[-2000:]


@pytest.mark.heavy
def test_cluster_gap_within_floor():
    """Regression gate for the decomposed local-cluster gap (r5
    decomposition, r6 knob attempts — SCALE.md): the measured floor is
    ~1.2-1.35× on sub-second queries; the gate allows 2.0× so machine
    noise never flakes it while a real process-boundary regression (a
    per-task broadcast, a serialization bug — those land at 3-10×)
    fails loudly.  Also re-verifies hash identity across the process
    boundary (nonzero exit on mismatch).

    One retry on a ratio breach: the cluster leg is wall-clock
    sensitive to AMBIENT load (measured 2.37x under a concurrent
    32-thread run vs 1.3x quiet on identical code), so a single
    re-measure distinguishes machine noise (second run passes) from a
    real process-boundary regression (fails twice — those land at
    3-10x regardless of load)."""
    import json

    out = None
    ratios = []
    for attempt in range(2):
        proc = subprocess.run(
            [
                sys.executable,
                os.path.join(REPO, "examples", "cluster_gap.py"),
                "/root/testdata/sf0.001",
            ],
            capture_output=True,
            text=True,
            timeout=900,
            env=dict(os.environ, SPARK_GRAFT_CPUS="4"),
            cwd=REPO,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        assert not out["mismatches"], out
        ratios.append(out["ratio"])
        if out["ratio"] <= 2.0:
            if attempt:
                # a retried pass is still a pass, but the breach must
                # be visible in CI history so a creeping ~2.x drift
                # (vs the 3-10x of a real regression) leaves a trail
                print(
                    f"cluster-gap retry: first attempt ratio "
                    f"{ratios[0]:.2f} breached 2.0, retry {out['ratio']:.2f} ok"
                )
            return
    assert out["ratio"] <= 2.0, {"attempt_ratios": ratios, **out}
