#!/usr/bin/env python
"""Benchmark the engine's headline queries.

Runs at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:
``{"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}``.

Each query executes fully via the noop sink (no driver-side collect
bottleneck — results are materialized and discarded executor-side,
which is how a cluster job would behave).

Cross-round comparability (the round-6 lesson — a host swap produced
a phantom 1.29x "regression"): the run opens with a fixed
CALIBRATION block measured before the slate —

- ``cpu_vec_sec`` / ``cpu_py_sec``: fixed single-thread numpy-vector
  and interpreted-Python workloads (host compute speed, the two axes
  that dominate vectorized vs python-stage queries respectively);
- ``job_overhead_sec``: median wall of 12 trivial one-row noop jobs
  (driver/scheduler latency — the axis that inflates many-small-job
  queries like semantic_dedup on a slow host);
- ``scan_agg_sec``: min-of-3 of tpch22_q6 (scan+agg-bound, pure JVM —
  the stable whole-stage-codegen anchor).

``host_factor`` divides each by the round-7 reference host's values
(``_REF_CALIB``), so "same code, slower machine" is machine-readable:
a BENCH_rN/BENCH_rM total ratio close to the host_factor mix means
drift, not regression.  The parallel-CPU leg is re-measured AFTER the
slate (``host_factor_close``) and the line carries a mechanical
``contended`` verdict — an opening-only calibration cannot see a
mid-run neighbor burst (both round-7 judge replications opened quiet
and absorbed one).

The driver's stdout capture truncates long lines (BENCH_r06 recorded
``parsed: null`` on the 85-query map), so the printed line inlines
only the calibration queries + top-20 slowest; the FULL per-query
map, with every rep's wall, is written to a per-run file
``BENCH_full_c<cpus>_<UTC timestamp>.json`` (committed per round) that
a later run cannot overwrite; ``$SPARK_GRAFT_BENCH_FULL`` names the
file instead.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sparkplans.session import EngineOptions, build_session  # noqa: E402
import sparkplans.queries as Q  # noqa: E402

HEADLINE = [
    "pricing_summary",
    "tpch_q3_topk_revenue",
    "tpch_q5_local_supplier",
    "flagship_datebin",
    "datebin_5min_counts",
    "broadcast_join_agg",
    "merge_join",
    "window_rank",
    "distinct_agg",
    "dedup_exact",
    "text_stats",
    "knn_brute_force",
    "bpe_token_counts",
    "lsh_candidates",
    "asof_join_events",
    "curation_pipeline",
    "heavy_hitters_tokens",
    "sliding_window_counts",
    "tfidf_top_terms",
    "decontamination_ngrams",
    "orders_profile",
    "orders_quality_gate",
    "orders_snapshot_diff",
    "lineitem_corr_matrix",
    "daily_volume_anomalies",
    "ohlc_daily_bars",
    "weighted_median_price",
    "copurchase_rules",
    "rrf_hybrid_retrieval",
    "sq_ann_topk",
    "activity_streaks",
    "segment_dedup",
    "stratified_split",
    "curation_pipeline_v2",
    "incremental_dedup_batch",
    "substring_dedup_docs",
    "semantic_dedup",
    "dsir_importance_weights",
    "quality_classifier_scores",
    "bigram_lm_scores",
    "roc_auc_cosine",
    "bloom_prefilter_dedup",
    "cms_token_counts",
    "equi_depth_bins",
    "target_encoding_loo",
    "video_shot_boundaries",
    "ffd_sequence_packing",
    "mixture_epoch_sample",
    "pca_whitening",
    "feature_drift_psi",
    "leakage_safe_split",
    # round-3 scale-fix regression sentinels: each of these had a
    # super-linear plan at sf3 (single-task grid explode, LSH bucket
    # straggler, 324M-pair norm recompute) — keeping them in the
    # headline slate pins the fixed plans at every future bench run
    "gap_fill_locf",
    "gap_fill_linear",
    "embedding_near_dups",
    "semantic_decontamination",
    "ssjoin_near_dups",
    # round-3 additions: no-equi-key bucketed range joins + survival
    "campaign_window_counts",
    "campaign_incident_overlap",
    "kaplan_meier_conversion",
    # round-3 eval-metric family: retrieval nDCG (salted two-phase
    # top-k), calibration table, categorical MI, Zipf corpus fit
    "ndcg_at_k",
    "calibration_bins",
    "mutual_information_features",
    "zipf_fit_tokens",
    # round-5: the canonical TPC-H suite (queries/tpch.py) — q1/q3/q5
    # have been headliners since round 1 (pricing_summary and the two
    # tpch_* entries above); these complete all 22
    "tpch22_q2_min_cost_supplier",
    "tpch22_q4_order_priority",
    "tpch22_q6_forecast_revenue",
    "tpch22_q7_volume_shipping",
    "tpch22_q8_market_share",
    "tpch22_q9_product_profit",
    "tpch22_q10_returned_items",
    "tpch22_q11_important_stock",
    "tpch22_q12_shipmode_priority",
    "tpch22_q13_customer_distribution",
    "tpch22_q14_promo_effect",
    "tpch22_q15_top_supplier",
    "tpch22_q16_parts_supplier",
    "tpch22_q17_small_quantity",
    "tpch22_q18_large_volume_customer",
    "tpch22_q19_discounted_revenue",
    "tpch22_q20_part_promotion",
    "tpch22_q21_suppliers_waiting",
    "tpch22_q22_global_sales",
    # round-6: planted-skew salted join (the AQE-skew twin), the
    # newly value-oracled iterative PageRank, and the t-digest
    # mergeable quantile sketch
    "skewed_join_salted",
    "pagerank_copurchase",
    "tdigest_price_quantiles",
    # round-7: the digest mergeability rollup (day -> week, stored
    # state only)
    "tdigest_weekly_rollup",
]


# Reference calibration values, measured on the round-7 host (Xeon @
# 2.10 GHz, local[32], quiet).  host_factor = measured / these; >1.0
# on every axis means "this machine is slower than the anchor host by
# that much" — divide a bench total by the matching factor before
# comparing across rounds.  cpu_par is the load-bearing axis on
# shared VMs: round-7 measured single-thread factors holding ~1.0x
# while 32-way parallel work burst to 3-6x within the same minute
# (noisy vCPU neighbor) — exactly the regime where the 32-thread
# query slate inflates and every single-thread anchor lies.
_REF_CALIB = {
    "cpu_vec_sec": 0.073,
    "cpu_par_sec": 0.142,
    "cpu_py_sec": 0.097,
    "job_overhead_sec": 0.098,
    "scan_agg_sec": 0.356,
}

# Scan/agg-bound, pure-JVM whole-stage-codegen anchor query; also a
# slate member (its calibration timing doubles as its slate entry).
_SCAN_ANCHOR = "tpch22_q6_forecast_revenue"


def _cpu_calibration() -> tuple[float, float, float]:
    """Fixed CPU work: (numpy-vector seconds single-thread, the same
    on ALL cores at once, interpreted-Python seconds), each min-of-3.
    Elementwise numpy (not BLAS matmul — the threaded BLAS made this
    leg 2x-noisy under residual load) releases the GIL, so the
    parallel leg measures true concurrent vCPU availability — the
    axis a VM's noisy neighbor steals from that the SINGLE-thread
    legs cannot see (observed: 1-thread factors at ~1.0x while the
    32-way query slate inflated ~1.2x)."""
    import numpy as np
    from concurrent.futures import ThreadPoolExecutor

    a = np.linspace(0.0, 100.0, 4_000_000)

    def work() -> float:
        return float(np.sin(a).sum() + np.sqrt(a + 1.0).sum() + (a * a).sum())

    vec = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        s = work()
        vec = min(vec, time.perf_counter() - t0)
    assert s == s  # keep the work observable
    n = os.cpu_count() or 8
    par = float("inf")
    with ThreadPoolExecutor(max_workers=n) as ex:
        for _ in range(3):
            t0 = time.perf_counter()
            list(ex.map(lambda _: work(), range(n)))
            par = min(par, time.perf_counter() - t0)
    py = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        h = 0
        for i in range(1_000_000):
            h = (h * 1315423911 + i) & 0xFFFFFFFFFFFF
        py = min(py, time.perf_counter() - t0)
    return round(vec, 4), round(par, 4), round(py, 4)


def _job_overhead(spark) -> float:
    """Median wall of 12 trivial one-row noop jobs — pure
    driver/scheduler round-trip latency.  A 3-job throwaway batch
    first absorbs lazy noop-sink/codegen init."""
    for _ in range(3):
        spark.range(1).write.format("noop").mode("overwrite").save()
    ts = []
    for _ in range(12):
        t0 = time.perf_counter()
        spark.range(1).write.format("noop").mode("overwrite").save()
        ts.append(time.perf_counter() - t0)
    ts.sort()
    return round(ts[len(ts) // 2], 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    # Quiet-bench protocol: record the 1-min load average around the
    # run so a reader can attribute round-over-round deltas to machine
    # noise vs real regressions (BENCH_r03's driver run was taken at
    # ambient load and read 27% slower than a quiet re-run of the
    # identical slate).  min-of-3 below already filters transient
    # spikes within a query; the load field exposes sustained ones.
    try:
        load_start = round(os.getloadavg()[0], 2)
    except OSError:
        load_start = None

    # SPARK_GRAFT_MASTER overrides the single-JVM default — e.g.
    # "local-cluster[4,8,4096]" benches the same slate across real
    # executor JVM + python-worker process boundaries (SCALE.md
    # "Multi-process execution").  Worker JVMs do not inherit the
    # driver's sys.path, so the repo root must ride executorEnv.
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    extra = (
        {"spark.executorEnv.PYTHONPATH": os.path.dirname(os.path.abspath(__file__))}
        if master.startswith("local-cluster")
        else {}
    )
    # SPARK_GRAFT_EXTRA_CONF (JSON) — same hook as cluster_proof's
    # runner: lets gap-profiling runs add per-run conf (locality wait,
    # serializer) without editing the bench
    extra.update(json.loads(os.environ.get("SPARK_GRAFT_EXTRA_CONF", "{}")))
    opts = EngineOptions(target_partitions=cpus, extra_conf=extra)
    spark = build_session(opts, app_name="sparkplans-bench", master=master)

    # Warm the JVM + parquet footers once with a trivial action so the
    # per-query timings measure query execution, not session warmup.
    Q.REGISTRY["agg_count_star"].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Per-query contention samples (round-8 lesson: the endpoint-only
    # contended flag cannot see a burst that starts and subsides
    # MID-slate — both calibration legs read quiet and the poisoned
    # lines pass).  Before every rep we read /proc/loadavg: the 1-min
    # average (slow-moving; dominated by the bench's own threads once
    # the slate is running, but a neighbor burst pushes it past that
    # plateau) and the INSTANTANEOUS runnable-task count, sampled at a
    # query boundary where the bench's own executor threads are parked
    # — so it mostly counts OTHER processes' demand.  The map makes a
    # mid-slate burst attributable to the specific queries it
    # poisoned, per-query salvage instead of per-run rejection.
    query_load: dict[str, dict] = {}

    def _loadavg_sample() -> tuple[float | None, int | None]:
        try:
            with open("/proc/loadavg") as f:
                parts = f.read().split()
            return float(parts[0]), int(parts[3].split("/")[0])
        except Exception:
            try:
                return round(os.getloadavg()[0], 2), None
            except OSError:
                return None, None

    rep_walls: dict[str, list[float]] = {}

    def _min_of(name: str, reps: int = 3) -> float:
        fn = Q.REGISTRY[name].fn
        # min of N runs: steady-state throughput, not JVM codegen
        # warmup or GC noise (run-to-run variance measured ~25%)
        walls: list[float] = []
        runqs: list = []
        l1_first: float | None = None
        for r in range(reps):
            l1, runq = _loadavg_sample()
            if r == 0:
                l1_first = l1
            runqs.append(runq)
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            walls.append(round(time.perf_counter() - t0, 3))
        query_load[name] = {"load1m": l1_first, "runq": runqs}
        rep_walls[name] = walls
        return min(walls)

    # Idle runnable-task count: the median runq, sampled before any
    # load.  /proc/loadavg counts the whole machine, so on a shared
    # host the spike floor must sit above this standing demand, which
    # no fixed count can.
    idle_samples = []
    for _ in range(10):
        runq = _loadavg_sample()[1]
        if runq is not None:
            idle_samples.append(runq)
        time.sleep(0.02)
    idle_runq = sorted(idle_samples)[len(idle_samples) // 2] if idle_samples else 0

    # ---- calibration block (fixed, BEFORE the slate) ----
    cpu_vec, cpu_par, cpu_py = _cpu_calibration()
    job_ovh = _job_overhead(spark)
    # min-of-5 for the anchor (vs 3 for slate queries): it runs first,
    # with the least page-cache warmup, and its value gates every
    # cross-round comparison
    reps_anchor = 5
    scan_anchor_sec = _min_of(_SCAN_ANCHOR, reps=reps_anchor)
    calib = {
        "cpu_vec_sec": cpu_vec,
        "cpu_par_sec": cpu_par,
        "cpu_py_sec": cpu_py,
        "job_overhead_sec": job_ovh,
        "scan_agg_sec": scan_anchor_sec,
    }
    host_factor = {
        k.rsplit("_sec", 1)[0]: round(calib[k] / _REF_CALIB[k], 3)
        for k in _REF_CALIB
    }

    timings: dict[str, float] = {_SCAN_ANCHOR: scan_anchor_sec}
    for name in HEADLINE:
        if name in timings:
            continue
        timings[name] = _min_of(name)

    total = round(sum(timings.values()), 3)

    # ---- closing calibration leg (round-7 lesson: both judge
    # replications opened quiet and got hit by a neighbor burst
    # MID-run, which the opening block cannot see).  Re-measure the
    # parallel-CPU axis after the slate (<1 s) and flag the run
    # `contended` when either end shows substantial theft or the two
    # ends diverge — a contended BENCH line is then mechanically
    # rejectable instead of needing a judge-side re-run.
    _, cpu_par_close, _ = _cpu_calibration()
    par_open_f = host_factor["cpu_par"]
    par_close_f = round(cpu_par_close / _REF_CALIB["cpu_par_sec"], 3)
    f_lo, f_hi = sorted((par_open_f, par_close_f))
    contended = bool(f_hi > 2.0 or (f_lo > 0 and f_hi / f_lo > 1.5))
    host_factor_close = {"cpu_par": par_close_f}

    # Mid-slate burst attribution: a query's timing is the MIN of its
    # reps, so it is only poisoned when EVERY rep started under load —
    # take min(runq) per query and flag the ones that sit far above
    # the slate-wide median (bench's own parked-thread floor).  The
    # margin is half the worker threads: a neighbor must be occupying
    # a substantial share of the machine to move a timing.  Spiked
    # queries make a poisoned line salvageable per-query (drop them
    # from cross-round ratios) instead of rejectable per-run.
    minrunq = {
        n: min(v)
        for n, v in (
            (n, [q for q in d.get("runq", []) if q is not None])
            for n, d in query_load.items()
        )
        if v
    }
    spike_queries: list[str] = []
    if minrunq:
        med = sorted(minrunq.values())[len(minrunq) // 2]
        margin = max(4, cpus // 2)
        # Round-9 lesson: a SUSTAINED burst raises the slate-wide
        # median runq itself, so a median-relative margin alone can
        # never fire (the driver's contended r9 run had cpu_par 3.2x
        # yet spike_queries=[]).  The absolute floor catches that
        # case: the sample is taken at a query boundary where the
        # bench's own executor threads are mostly parked, so a
        # runnable count of max(4, cpus//4) above the idle sample
        # (the host's own standing demand) on EVERY rep is external.
        abs_floor = idle_runq + max(4, cpus // 4)
        spike_queries = sorted(
            n for n, q in minrunq.items() if q > med + margin or q > abs_floor
        )
    try:
        load_end = round(os.getloadavg()[0], 2)
    except OSError:
        load_end = None
    load = {"start_1m": load_start, "end_1m": load_end}

    # Full per-query map -> sibling artifact (the driver's stdout
    # capture truncates long lines); printed line stays small.
    full_path = os.environ.get("SPARK_GRAFT_BENCH_FULL") or os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        f"BENCH_full_c{cpus}_{time.strftime('%Y%m%dT%H%M%SZ', time.gmtime())}.json",
    )
    full = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "calibration": calib,
        "host_factor": host_factor,
        "host_factor_close": host_factor_close,
        "contended": contended,
        "load": load,
        "query_load": query_load,
        "idle_runq": idle_runq,
        "rep_walls": rep_walls,
        "spike_queries": spike_queries,
        "reps": 3,
        "reps_anchor": reps_anchor,
    }
    try:
        with open(full_path, "w") as f:
            json.dump(full, f, indent=1, sort_keys=True)
            f.write("\n")
    except OSError:
        full_path = None

    top = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:20]
    )
    top[_SCAN_ANCHOR] = scan_anchor_sec  # anchor always inline
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                # top-20 slowest + the scan anchor; full 85-query map
                # in the full map file ("full")
                "queries": top,
                "sf": sf,
                "n_queries": len(timings),
                "calibration": calib,
                "host_factor": host_factor,
                # cpu_par re-measured AFTER the slate + a mechanical
                # contention verdict: True when either end's parallel
                # factor exceeds 2.0x the reference host or the two
                # ends diverge >1.5x (a mid-run neighbor burst) —
                # normalize or rerun before cross-round comparison
                "host_factor_close": host_factor_close,
                "contended": contended,
                # ambient 1-min load average before the session started
                # and after the slate finished (the during-run value is
                # dominated by the bench's own 32 threads); reps is the
                # min-of-N count each per-query number survived
                # (reps_anchor for the scan anchor)
                "load": load,
                # queries whose every rep started under a runnable-
                # task spike (min(runq) > slate median + cpus/2) —
                # exclude these from cross-round per-query ratios;
                # full per-query samples live in the full map file
                "spike_queries": spike_queries,
                "reps": 3,
                "reps_anchor": reps_anchor,
                "full": full_path,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
