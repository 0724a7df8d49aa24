#!/usr/bin/env python
"""Measure PageRank's BROADCAST vs SHUFFLE path on the same graph::

    python examples/pagerank_path_probe.py [sf_dir] [--paths both|broadcast|shuffle] [--parity]

The operator auto-routes on |V| vs ``graph._PAGERANK_BROADCAST_NODES``
(8M): below it, ranks broadcast into the dst-partitioned edges with
ZERO exchanges per iteration; above it, each iteration shuffles the
|V|-row ranks side plus the one corpus groupBy(dst) exchange
(operators/graph.py:57-75).  The broadcast path has measured rungs
to sf30; this harness measures the shuffle path on the SAME data by
setting that constant to 0 — the configuration that IS the plan at 100x scale (sf100-class
graphs run ~20M nodes, past any sane broadcast ceiling), previously
exercised only by the toy-scale parity test.

Per path it reports total wall, scheduler job count, and a cpu_par
contention leg before/after (bench.py's calibration axis) so a
noisy-neighbor burst is visible in the artifact instead of silently
inflating a path.  (No per-iteration split: the iterations chain as
lazy cuts, so a driver-side timer around each one measures plan
building, not execution.)  ``--parity``
additionally joins the two paths' ranks and asserts max |Δ| <= 1e-9
(route choice is a physical-plan decision; the fixed point must not
move).  Prints one JSON line for SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, repo)


def _cpu_par() -> float:
    from bench import _cpu_calibration

    return _cpu_calibration()[1]


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    parity = "--parity" in sys.argv
    paths = "both"
    if "--paths" in sys.argv:
        paths = sys.argv[sys.argv.index("--paths") + 1]

    from sparkplans.session import EngineOptions, build_session
    from sparkplans.operators import graph
    import sparkplans.queries as Q

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = build_session(
        EngineOptions(
            target_partitions=cpus,
            extra_conf={
                "spark.driver.memory": os.environ.get(
                    "SPARK_GRAFT_DRIVER_MEM", "24g"
                ),
                # big-SF checkpoint stages can stall the (single) local
                # JVM >120 s in one GC/unroll storm; at the default
                # heartbeat timeout the HeartbeatReceiver then expires
                # the local executor and the context unravels mid-leg
                # (observed at sf30: 139 s stall -> expiry -> wedged
                # scheduler).  Same dial a real cluster sets for
                # heavy-GC executors.
                "spark.network.timeout": "600s",
                "spark.executor.heartbeatInterval": "20s",
            },
        ),
        app_name="pagerank-path-probe",
        master=f"local[{cpus}]",
    )
    sc = spark.sparkContext

    def jobs() -> int:
        return int(sc._jsc.sc().dagScheduler().nextJobId())

    fn = Q.REGISTRY["pagerank_copurchase"].fn
    out: dict = {"sf_dir": sf_dir, "cpus": cpus, "paths": {}}
    results: dict = {}

    legs = (
        ["broadcast", "shuffle"]
        if paths == "both"
        else [paths]
    )
    limit = graph._PAGERANK_BROADCAST_NODES
    for leg in legs:
        graph._PAGERANK_BROADCAST_NODES = 0 if leg == "shuffle" else limit
        par_open = _cpu_par()
        j0 = jobs()
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        wall = round(time.perf_counter() - t0, 1)
        j_used = jobs() - j0
        par_close = _cpu_par()
        out["paths"][leg] = {
            "wall_sec": wall,
            "jobs": j_used,
            "cpu_par_open_sec": par_open,
            "cpu_par_close_sec": par_close,
        }
        if parity:
            results[leg] = df
        print(f"# {leg}: {wall}s, {j_used} jobs", file=sys.stderr)

    if parity and len(results) == 2:
        from pyspark.sql import functions as F

        a, b = results["broadcast"].alias("a"), results["shuffle"].alias("b")
        row = (
            a.join(b, F.col("a.node") == F.col("b.node"), "full")
            .agg(
                F.max(F.abs(F.col("a.rank") - F.col("b.rank"))).alias("max_d"),
                F.count(
                    F.when(
                        F.col("a.node").isNull() | F.col("b.node").isNull(), 1
                    )
                ).alias("missing"),
            )
            .collect()[0]
        )
        # max_d is None on an empty/degenerate graph (both legs emit
        # zero rows) — guard before float() so the probe fails with
        # the intended message, not a TypeError; SystemExit instead
        # of assert so the gates survive python -O
        max_d = 0.0 if row["max_d"] is None else float(row["max_d"])
        out["parity"] = {
            "max_abs_diff": max_d,
            "unmatched_nodes": int(row["missing"]),
        }
        if int(row["missing"]) != 0:
            print(json.dumps(out))
            raise SystemExit("PARITY FAIL: node sets diverge between paths")
        if max_d > 1e-9:
            print(json.dumps(out))
            raise SystemExit(f"PARITY FAIL: rank daylight {max_d}")

    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
