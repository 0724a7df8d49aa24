#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload pipeline --seed 1 --trace 0

Run from the root of a checkout.  The run generates its inputs from
``--seed`` under ``.perfbench/`` in the checkout, starts a fresh
``local[4]`` session, runs one cold pass over the workload's operations
and then warm passes for ``--seconds`` (default: ``run_seconds`` in
``BENCHMARK.json``), checks every result once against DuckDB, and
prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  The line before it
carries the run's context: host load, the trivial-job calibration,
input sizes, per-operation walls, failures, and the metrics of
``RUN_METRICS`` (operation latency, memory, failure ratio and, on
``ingest``, the commit, read and space metrics).

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` records a
span around every call into the package, reads Spark's status store per
operation, writes spans and per-operation records to
``.perfbench/trace-<workload>-s<seed>.json`` and prints the per-layer
metrics.  Its warm passes alternate untraced and traced, so the run
measures its own tracing overhead.  ``perfbench/README.md`` defines
every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PARTITIONS = 4
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
}

# Printed by every run in its context line, and by the traced run as
# per-layer metrics.  They are not end-to-end metrics: op_p50_s,
# op_tail_s and peak_rss_mb wander by more than a tenth between runs of
# the same code (README.md has the spreads), fail_ratio is 0 on a
# correct run, and the rest exist on ingest only.
RUN_METRICS = {
    "op_p50_s": "s",
    "op_tail_s": "s",
    "peak_rss_mb": "MB",
    "fail_ratio": "ratio",
    "commit_p50_s": "s",
    "commit_tail_s": "s",
    "read_p50_s": "s",
    "ingest_rows_per_s": "rows/s",
    "storage_amp": "ratio",
}

_LAYERS = {
    "session.build_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "plans.plan_s": "s",
    "plans.exchanges": "count",
    "plans.python_stages": "count",
    "plans.sorts": "count",
    "plans.broadcasts": "count",
    "plans.reused_exchanges": "count",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "scheduler.job_overhead_s": "s",
    "scheduler.floor_share": "ratio",
    "driver.gap_s": "s",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "executor.offcpu_s": "s",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s",
    "spill.memory_bytes": "bytes",
    "spill.disk_bytes": "bytes",
    "input.bytes": "bytes",
    "materialize.persisted_rdds": "count",
    "materialize.cached_bytes": "bytes",
    "table.commit_s": "s",
    "table.merge_s": "s",
    "table.rewrite_s": "s",
    "table.log_versions": "count",
    "table.files_live": "count",
    "table.files_pruned": "count",
    "table.bytes_on_disk": "bytes",
    "streaming.batch_s": "s",
    "streaming.batches": "count",
    "catalog.files_pruned": "count",
    "engine.sorts_elided": "count",
    "sinks.write_sorted_s": "s",
    **RUN_METRICS,
    "trace.warm_pass_s": "s",
    "trace.overhead_s": "s",
}


def per_layer_units() -> dict[str, str]:
    from workloads import PIPELINE_QUERIES

    return {**_LAYERS, **{f"query.{q}.s": "s" for q in PIPELINE_QUERIES}}


def committed_run_seconds() -> float:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return float(json.load(f)["run_seconds"])


# ---------------------------------------------------------------------
# small statistics helpers
# ---------------------------------------------------------------------


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p: float) -> float:
    """Linear-interpolated percentile ``p`` (0..100) of ``xs``."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    pos = p / 100 * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float:
    """The highest ladder percentile with at least ten samples beyond it."""
    for p in TAIL_LADDER:
        if n * (1 - p / 100) >= 10:
            return p
    return TAIL_LADDER[-1]


# ---------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------


def isolate(work: str) -> dict[str, str]:
    """Keep every file the run writes under ``work``; return the extra
    Spark conf that does the same for the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TZ": "UTC",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    })
    time.tzset()
    return {
        # The heap starts at its 2g maximum: a heap that grows during the
        # run made ingest's pass walls wander by a fifth between runs.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g",
        # keep every job and stage of the run in the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def job_overhead(spark) -> float:
    """Median wall of 12 trivial one-row jobs, after 3 to warm up."""
    def job():
        spark.range(1).write.format("noop").mode("overwrite").save()

    for _ in range(3):
        job()
    walls = []
    for _ in range(12):
        t0 = time.perf_counter()
        job()
        walls.append(time.perf_counter() - t0)
    return median(walls)


def stop_session(spark) -> None:
    """Stop the session and the JVM under it, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


class Runner:
    def __init__(self, args, work: str, conf: dict[str, str]):
        import workloads
        from tracing import Tracer

        self.args = args
        self.work = work
        self.conf = conf
        self.wl = workloads.make(args.workload, args.sf)
        self.tracer = Tracer(args.trace == 1)
        self.passes: list[dict] = []
        self.audits: dict[str, dict] = {}
        self.failures: list[str] = []
        self.next_op = 0

    # -- set-up ------------------------------------------------------------

    def setup(self):
        """One fresh session, the workload's seeded inputs and its table
        registration: what a one-shot job pays before its first query."""
        from sparkplans.session import EngineOptions, build_session
        from tracing import RssSampler
        import workloads

        opts = EngineOptions(target_partitions=PARTITIONS, extra_conf=self.conf)
        t0 = time.perf_counter()
        with self.tracer.span("setup"):
            with self.tracer.span("session.build_session"):
                self.spark = build_session(
                    opts, app_name="perfbench", master=f"local[{PARTITIONS}]"
                )
            self.build_s = time.perf_counter() - t0
            self.sc = self.spark.sparkContext
            self.rss = RssSampler(self.sc._gateway.proc.pid).start()
            self.ctx = workloads.Ctx(
                self.spark, self.tracer, self.args.seed, self.wl.sf,
                os.path.join(self.work, "data"), self.work,
            )
            self.wl.setup(self.ctx)
        self.setup_s = time.perf_counter() - t0

    # -- passes ------------------------------------------------------------

    def run_pass(self, label: str, traced: bool) -> dict:
        from sparkplans import plans

        tr = self.tracer
        tr.enabled = traced
        pass_no = len(self.passes)
        ops, state = self.wl.ops(self.ctx, pass_no)
        rec = {"label": label, "traced": traced, "ops": []}
        jsc = self.sc._jsc
        for op in ops:
            op_id = self.next_op
            self.next_op += 1
            tr.op_id = op_id if traced else None
            if self.args.trace:
                self.sc.setJobGroup(f"op{op_id}" if traced else "untraced", op.name)
            err, res = None, None
            t0 = time.perf_counter()
            try:
                with tr.span(op.name, kind=op.kind):
                    res = op.run()
            except Exception as e:  # an op that raises counts as failed
                err = f"{type(e).__name__}: {str(e).splitlines()[0][:200] if str(e) else ''}"
            wall = time.perf_counter() - t0
            orec = {"op_id": op_id, "name": op.name, "kind": op.kind, "wall_s": wall}
            if traced:
                orec["persisted_rdds"] = jsc.getPersistentRDDs().size()
                orec["cached_bytes"] = sum(
                    i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo()
                )
            if err is None and label == "cold" and op.check is not None:
                try:
                    bad = op.check(res)
                except Exception as e:
                    bad = f"check raised {type(e).__name__}: {e}"
                if bad:
                    err = f"wrong result: {bad}"
            if traced and label == "cold" and op.kind == "query" and err is None:
                with tr.span("plans.audit"):
                    self.audits[op.name] = plans.audit(res.df)
            if err is not None:
                orec["error"] = err
                self.failures.append(f"{label} {op.name}: {err}")
            rec["ops"].append(orec)
        tr.op_id = None
        rec["wall_s"] = sum(o["wall_s"] for o in rec["ops"])
        rec["layers"] = self.wl.pass_layers(self.ctx, state)
        self.passes.append(rec)
        return rec

    def measure(self):
        """The cold pass, then whole warm passes: the next one starts only
        if it should end within ``--seconds``.  A traced run alternates
        untraced and traced warm passes and runs at least untraced,
        traced, untraced, so that its overhead estimate brackets the
        traced pass and later passes being warmer cancels out."""
        self.wl.prepare_checks(self.ctx)
        self.run_pass("cold", traced=bool(self.args.trace))
        least = 3 if self.args.trace else 1
        t0 = time.perf_counter()
        while True:
            traced = bool(self.args.trace) and self.warm_count() % 2 == 1
            last = self.run_pass("warm", traced)
            elapsed = time.perf_counter() - t0
            if self.warm_count() >= least and elapsed + last["wall_s"] > self.args.seconds:
                break

    def warm_count(self) -> int:
        return sum(p["label"] == "warm" for p in self.passes)

    def warm(self, traced: bool | None = None) -> list[dict]:
        return [
            p for p in self.passes
            if p["label"] == "warm" and (traced is None or p["traced"] == traced)
        ]

    # -- metrics -----------------------------------------------------------

    def end_to_end(self) -> dict[str, float]:
        return {
            "setup_s": self.setup_s,
            "cold_pass_s": self.passes[0]["wall_s"],
            "warm_pass_s": median(p["wall_s"] for p in self.warm(traced=False)),
        }

    def run_metrics(self) -> dict[str, float]:
        """The metrics of ``RUN_METRICS`` that apply to the workload;
        latencies come from the untraced warm passes."""
        warm = self.warm(traced=False)
        ops = [o for p in warm for o in p["ops"]]
        walls = [o["wall_s"] for o in ops]
        self.tail_p = tail_percentile(len(walls))
        out = {
            "op_p50_s": median(walls),
            "op_tail_s": percentile(walls, self.tail_p),
            "peak_rss_mb": self.peak_rss_mb,
            "fail_ratio": self.failed / self.attempted,
        }
        if self.args.workload != "ingest":
            return out
        commits = [o["wall_s"] for o in ops if o["kind"] == "commit"]
        stream_commits = [s for p in warm for s in p["layers"]["stream_commit_s"]]
        appends = [o["wall_s"] for o in ops if o["name"] == "append"]
        all_commits = commits + stream_commits
        inputs = self.ctx.inputs
        rows = inputs["stream"]["rows"] + inputs["rows_per_slice"] * self.wl.APPENDS
        input_bytes = inputs["stream"]["bytes"] + inputs["slices"]["bytes"]
        out.update({
            "commit_p50_s": median(all_commits),
            "commit_tail_s": percentile(all_commits, tail_percentile(len(all_commits))),
            "read_p50_s": median(o["wall_s"] for o in ops if o["kind"] == "read"),
            "ingest_rows_per_s": rows * len(warm) / (sum(appends) + sum(stream_commits)),
            "storage_amp": median(p["layers"]["bytes_on_disk"] for p in warm) / input_bytes,
        })
        return out

    def per_layer(self) -> dict[str, float]:
        from tracing import status_store, union_length

        jobs, stages = status_store(self.sc)
        by_op: dict[int, list[dict]] = {}
        for j in jobs:
            g = j["group"] or ""
            if g.startswith("op"):
                by_op.setdefault(int(g[2:]), []).append(j)
        self.op_costs = {}
        traced = self.warm(traced=True)
        units = per_layer_units()
        rows = []
        for p in traced:
            ids = {o["op_id"] for o in p["ops"]}
            row = dict.fromkeys(
                ["scheduler.jobs", "scheduler.stages", "scheduler.tasks", "driver.gap_s",
                 "executor.run_s", "executor.cpu_s", "executor.gc_s",
                 "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_s",
                 "spill.memory_bytes", "spill.disk_bytes", "input.bytes",
                 "queries.build_jobs"], 0.0)
            builds = [
                (s["start"], s["end"]) for s in self.tracer.spans
                if s["name"] == "queries.build" and s["op"] in ids
            ]
            for o in p["ops"]:
                ojobs = [j for j in by_op.get(o["op_id"], []) if j["start"] is not None]
                sids = {sid for j in ojobs for sid in j["stage_ids"]}
                done = [stages[s] for s in sids if s in stages and stages[s]["status"] == "COMPLETE"]
                cost = {
                    "jobs": len(ojobs),
                    "stages": len(done),
                    "tasks": sum(s["tasks"] for s in done),
                    "gap_s": max(o["wall_s"] - union_length(
                        [(j["start"], j["end"] or j["start"]) for j in ojobs]), 0.0),
                }
                for k in ("run_s", "cpu_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
                          "fetch_wait_s", "spill_memory_bytes", "spill_disk_bytes", "input_bytes"):
                    cost[k] = sum(s[k] for s in done)
                self.op_costs.setdefault(o["name"], []).append(cost)
                row["scheduler.jobs"] += cost["jobs"]
                row["scheduler.stages"] += cost["stages"]
                row["scheduler.tasks"] += cost["tasks"]
                row["driver.gap_s"] += cost["gap_s"]
                row["executor.run_s"] += cost["run_s"]
                row["executor.cpu_s"] += cost["cpu_s"]
                row["executor.gc_s"] += cost["gc_s"]
                row["shuffle.write_bytes"] += cost["shuffle_write_bytes"]
                row["shuffle.read_bytes"] += cost["shuffle_read_bytes"]
                row["shuffle.fetch_wait_s"] += cost["fetch_wait_s"]
                row["spill.memory_bytes"] += cost["spill_memory_bytes"]
                row["spill.disk_bytes"] += cost["spill_disk_bytes"]
                row["input.bytes"] += cost["input_bytes"]
                row["queries.build_jobs"] += sum(
                    any(a <= j["start"] <= b for a, b in builds) for j in ojobs
                )
            row["executor.offcpu_s"] = max(
                row["executor.run_s"] - row["executor.cpu_s"] - row["executor.gc_s"], 0.0
            )
            row["queries.build_s"] = self.tracer.total("queries.build", ids)
            row["plans.plan_s"] = self.tracer.total("plans.plan", ids)
            row["sinks.write_sorted_s"] = self.tracer.total("sinks.write_sorted", ids)
            row["materialize.persisted_rdds"] = max(o["persisted_rdds"] for o in p["ops"])
            row["materialize.cached_bytes"] = max(o["cached_bytes"] for o in p["ops"])
            layers = p["layers"]
            if layers:
                row.update({
                    "table.log_versions": layers["log_versions"],
                    "table.files_live": layers["files_live"],
                    "table.files_pruned": layers["table_files_pruned"],
                    "table.bytes_on_disk": layers["bytes_on_disk"],
                    "catalog.files_pruned": layers["catalog_files_pruned"],
                    "engine.sorts_elided": layers["sorts_elided"],
                    "streaming.batches": len(layers["batch_s"]),
                    "streaming.batch_s": median(layers["batch_s"]),
                })
            rows.append(row)

        out = dict.fromkeys(units, 0.0)
        for k in rows[0]:
            out[k] = median(r[k] for r in rows)
        overhead = self.job_overhead_s
        out["session.build_s"] = self.build_s
        out["scheduler.job_overhead_s"] = overhead
        traced_wall = median(p["wall_s"] for p in traced)
        out["scheduler.floor_share"] = out["scheduler.jobs"] * overhead / traced_wall
        for k in ("exchanges", "python_stages", "sorts", "broadcasts", "reused_exchanges"):
            out[f"plans.{k}"] = sum(a[k] for a in self.audits.values())
        out["trace.warm_pass_s"] = traced_wall
        out["trace.overhead_s"] = traced_wall - median(p["wall_s"] for p in self.warm(traced=False))
        warm = self.warm()
        for q in set(o["name"] for p in warm for o in p["ops"]):
            key = f"query.{q}.s"
            if key in out:
                out[key] = median(o["wall_s"] for p in warm for o in p["ops"] if o["name"] == q)
        if self.args.workload == "ingest":
            per_pass = len(traced)
            ops = [o for p in traced for o in p["ops"]]
            stream_commits = [s for p in traced for s in p["layers"]["stream_commit_s"]]

            def pass_sum(names):
                return sum(o["wall_s"] for o in ops if o["name"] in names) / per_pass

            out["table.commit_s"] = pass_sum({"append"}) + sum(stream_commits) / per_pass
            out["table.merge_s"] = pass_sum({"merge"})
            out["table.rewrite_s"] = pass_sum({"update", "delete", "compact"})
        out.update(self.run_metrics())
        return out

    # -- whole run ---------------------------------------------------------

    def run(self) -> tuple[dict, dict]:
        from tracing import host_record

        host_before = host_record()
        self.spark = self.rss = None
        try:
            self.setup()
            if self.args.trace:
                self.sc.setJobGroup("calibration", "calibration")
            self.job_overhead_s = job_overhead(self.spark)
            self.measure()
            self.attempted = sum(len(p["ops"]) for p in self.passes)
            self.failed = sum("error" in o for p in self.passes for o in p["ops"])
            self.peak_rss_mb = self.rss.stop()
            if self.args.trace:
                metrics = self.per_layer()
                units = per_layer_units()
            else:
                metrics = self.end_to_end()
                units = END_TO_END
            own = self.run_metrics()
        finally:
            if self.rss is not None:
                self.rss.stop()
            if self.spark is not None:
                stop_session(self.spark)
        context = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "sf": self.wl.sf,
            "trace": self.args.trace,
            "seconds": self.args.seconds,
            "host": {
                "nproc": os.cpu_count(),
                "before": host_before,
                "after": host_record(),
                "job_overhead_s": self.job_overhead_s,
            },
            "inputs": self.ctx.inputs,
            "run_metrics": {
                k: {"value": v, "unit": RUN_METRICS[k]} for k, v in own.items()
            },
            "passes": [
                {"label": p["label"], "traced": p["traced"], "wall_s": p["wall_s"], "ops": len(p["ops"])}
                for p in self.passes
            ],
            "op_walls": {
                name: {k: [round(w, 4) for w in rec[k]] for k in ("cold_s", "warm_s")}
                for name, rec in self.op_walls().items()
            },
            "warm_op_samples": sum(len(p["ops"]) for p in self.warm(traced=False)),
            "tail_percentile": self.tail_p,
            "failures": self.failures,
        }
        if self.args.trace:
            context["trace_file"] = self.write_trace(context, metrics)
        result = {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
        return result, context

    def op_walls(self) -> dict[str, dict]:
        """Cold and warm walls of each operation, by name."""
        ops = {}
        for p in self.passes:
            for o in p["ops"]:
                rec = ops.setdefault(o["name"], {"kind": o["kind"], "cold_s": [], "warm_s": []})
                rec["cold_s" if p["label"] == "cold" else "warm_s"].append(o["wall_s"])
        return ops

    def write_trace(self, context: dict, metrics: dict) -> str:
        ops = self.op_walls()
        for name, costs in self.op_costs.items():
            ops[name]["traced_costs"] = costs
        for name, audit in self.audits.items():
            ops[name]["audit"] = audit
        path = os.path.join(
            ROOT, ".perfbench", f"trace-{self.args.workload}-s{self.args.seed}.json"
        )
        with open(path, "w") as f:
            json.dump(
                {"context": context, "per_layer": metrics, "ops": ops, "spans": self.tracer.spans},
                f,
                indent=1,
                default=str,
            )
        return os.path.relpath(path, ROOT)


def parse_args(argv=None):
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=None,
                    help="warm-pass budget (default: run_seconds in BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="override the workload's scale factor (used by perfbench/selftest.py)")
    args = ap.parse_args(argv)
    if args.seconds is None:
        args.seconds = committed_run_seconds()
    return args


def main(argv=None) -> int:
    # the result signatures are the ones the oracle tests use
    sys.path[:0] = [HERE, ROOT]
    sys.path.append(os.path.join(ROOT, "tests"))
    if not os.path.isfile(os.path.join(ROOT, "sparkplans", "__init__.py")):
        print(f"perfbench: no sparkplans package under {ROOT}", file=sys.stderr)
        return 2
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-s{args.seed}-{os.getpid()}")
    conf = isolate(work)
    try:
        result, context = Runner(args, work, conf).run()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"context": context}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
