#!/usr/bin/env python
"""Multi-process execution proof — the evidence class local[32] can't
give::

    python examples/cluster_proof.py [sf_dir] [cluster_master] [names...]

Every other artifact in this repo runs Spark in ONE JVM (local mode:
thread-boundary "executors", zero serialization between them).  A real
cluster crosses PROCESS boundaries: broadcast model state (bloom-filter
binary literals, IVF centroids, PCA projections) must serialize to
separate executor JVMs, Arrow batches must cross JVM->python-worker
pipes on each executor host, localCheckpoint partitions live in
per-executor block managers, and task binaries ship over RPC.  The
reference defers distributed plans entirely
(docs/9_what_next.md:7) — this repo claims them, so this script proves
the claim mechanically:

1. run a slate of queries on plain ``local[C]``;
2. run the identical slate on ``local-cluster[W,C,M]`` — Spark's
   pseudo-cluster master that launches W REAL executor JVM processes
   (plus python workers under each) with M MiB heaps, exercising the
   full CoarseGrainedExecutorBackend / serializer / RPC path;
3. compare order-insensitive (count, schema, value-hash) signatures
   per query; any divergence is a failure.

Each mode runs in a fresh SUBPROCESS so the two SparkContexts share
nothing (no py4j gateway reuse, no conf bleed).  The default slate
covers the shapes whose executor-boundary behavior differs most from
threads: shuffle/broadcast/sort-merge joins, two-phase and distinct
aggs, window functions, the bloom build+probe round trip (driver-
assembled bytes re-broadcast as a plan literal), materialize()-backed
lineage cuts (executor-local checkpoint blocks), Arrow-batched
BLAS cells (applyInPandas/mapInPandas python workers on each
executor), and driver-fit model state (k-means centroids, PCA
eigenbasis) re-entering the cluster as literals.

Exit 0 = every query hash-identical across modes.  Observations
(task-binary sizes, serialization surprises) belong in SCALE.md
"Multi-process execution".
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Joins, aggs, windows, bloom round trip, materialize-heavy, BLAS
# cells, driver-fit model state — the VERDICT-prescribed mix.
DEFAULT_SLATE = [
    "pricing_summary",
    "tpch_q3_topk_revenue",
    "tpch_q5_local_supplier",
    "flagship_datebin",
    "broadcast_join_agg",
    "merge_join",
    "shuffle_hash_join",
    "multi_fact_join",
    "window_rank",
    "distinct_agg",
    "dedup_exact",
    "topk",
    "knn_brute_force",
    "bloom_prefilter_dedup",
    "bloom_decontamination",
    "bigram_lm_scores",
    "roc_auc_cosine",
    "cms_token_counts",
    "embedding_near_dups",
    "semantic_decontamination",
    "pca_whitening",
    "semantic_dedup",
    "ffd_sequence_packing",
]

_RUNNER = r"""
import json, os, sys, time
repo, master, sf_dir, out_path = sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4]
names = json.loads(sys.argv[5])
sys.path.insert(0, repo)
sys.path.insert(0, os.path.join(repo, "tests"))
from sparkplans.session import EngineOptions, build_session
import sparkplans.queries as Q
from oracle_harness import spark_signature

cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
# SPARK_GRAFT_EXTRA_CONF (JSON object) lets a wrapper add per-mode
# conf — e.g. daemon_cluster_proof.py sets spark.executor.memory for
# standalone masters, where the 1g default would starve the slate.
extra = {"spark.executorEnv.PYTHONPATH": repo}
extra.update(json.loads(os.environ.get("SPARK_GRAFT_EXTRA_CONF", "{}")))
opts = EngineOptions(
    target_partitions=cpus,
    # executor python workers resolve sparkplans/ by module reference
    # when unpickling Arrow-UDF closures.  build_session ships the
    # package root itself on local and local-cluster masters; the
    # spark:// masters of daemon_cluster_proof.py need it from here
    extra_conf=extra,
)
spark = build_session(opts, app_name="cluster-proof", master=master)
sc = spark.sparkContext
res = {"master": master, "default_parallelism": sc.defaultParallelism,
       "queries": {}}
for n in names:
    t0 = time.time()
    cnt, cols, h = spark_signature(Q.REGISTRY[n].fn(spark, sf_dir))
    res["queries"][n] = {
        "rows": cnt,
        "cols": list(cols),
        "hash": h,
        "sec": round(time.time() - t0, 2),
    }
    # per-query progress marker: lets chaos wrappers (worker-kill leg
    # of daemon_cluster_proof.py) time their kills mid-slate
    with open(out_path + ".progress", "a") as pf:
        pf.write(n + "\n")
# block-manager count: driver + one per executor process (read AFTER
# the slate — executor registration is asynchronous at session build)
res["block_managers"] = sc._jsc.sc().getExecutorMemoryStatus().size()
json.dump(res, open(out_path, "w"))
spark.stop()
"""


def run_mode(master: str, sf_dir: str, names: list[str]) -> dict:
    with tempfile.NamedTemporaryFile(suffix=".json", delete=False) as f:
        out_path = f.name
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, "-c", _RUNNER, REPO, master, sf_dir, out_path,
         json.dumps(names)],
        capture_output=True,
        text=True,
        timeout=3600,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise RuntimeError(f"{master} run failed rc={proc.returncode}")
    with open(out_path) as f:
        res = json.load(f)
    os.unlink(out_path)
    res["wall_sec"] = round(time.time() - t0, 1)
    return res


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    cluster = sys.argv[2] if len(sys.argv) > 2 else "local-cluster[2,8,4096]"
    names = sys.argv[3:] or DEFAULT_SLATE
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    os.environ["SPARK_GRAFT_CPUS"] = cpus

    local = run_mode(f"local[{cpus}]", sf_dir, names)
    multi = run_mode(cluster, sf_dir, names)

    mismatches = []
    for n in names:
        a, b = local["queries"][n], multi["queries"][n]
        same = (
            a["rows"] == b["rows"]
            and a["cols"] == b["cols"]
            and a["hash"] == b["hash"]
        )
        if not same:
            mismatches.append(n)
        print(
            f"{'ok  ' if same else 'FAIL'} {n}: rows={a['rows']} "
            f"local={a['sec']}s cluster={b['sec']}s",
            flush=True,
        )
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "slate": len(names),
                "mismatches": mismatches,
                "local": {k: local[k] for k in
                          ("master", "block_managers", "wall_sec")},
                "cluster": {k: multi[k] for k in
                            ("master", "block_managers", "wall_sec")},
            }
        )
    )
    # the proof requires the cluster run actually crossed process
    # boundaries: driver + >= 2 executor block managers
    if multi["block_managers"] < 3:
        print("FAIL: cluster mode did not launch separate executors")
        return 1
    return 1 if mismatches else 0


if __name__ == "__main__":
    sys.exit(main())
