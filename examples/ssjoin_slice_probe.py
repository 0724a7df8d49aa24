#!/usr/bin/env python
"""Top-of-curve SSJoin probe: measure ONE slice at a data-dominated
SF and extrapolate the full wall from the auto-resolved slice count::

    python examples/ssjoin_slice_probe.py [sf_dir] [threshold]

The exact prefix-filter SSJoin is output-bound at saturated SFs (sf30
measured 64.8e9 raw candidate rows), so a full run is a multi-hour
bill that proves nothing a single slice doesn't: every slice is the
same plan over a 1/K ownership partition of the pairs (owner =
xxhash64(larger id) % K), so per-slice wall × K bounds the full run
to first order.  This harness runs:

1. a ``slice_range=(0, 1)`` bounded run — prologue (shingle ranking +
   auto decision aggregation) + ONE slice;
2. a ``slice_range=(0, 2)`` bounded run — same prologue + TWO slices.

The difference of the two walls isolates the MARGINAL per-slice cost
(each call pays the prologue once), so the full-run extrapolation is
``prologue + K × marginal`` instead of the loose ``wall × K`` bound
that charges the prologue K times.  K and the raw candidate count
come from wrapping ``dedup._auto_slices``, the operator's pure
slice-sizing step.  Prints one JSON line; SCALE.md pins these as the
sf100 rung of the SSJoin scale story.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, repo)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else ".localdata/sf100"
    threshold = float(sys.argv[2]) if len(sys.argv) > 2 else 0.5

    from sparkplans.session import EngineOptions, build_session
    from sparkplans.operators import dedup
    from sparkplans.queries import _t_cpu

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    opts = EngineOptions(
        target_partitions=cpus,
        extra_conf={
            "spark.driver.memory": os.environ.get(
                "SPARK_GRAFT_DRIVER_MEM", "24g"
            ),
            # zstd halves the candidate shuffle's disk footprint vs
            # lz4 (the sf10 sweep note); the probe should measure the
            # configuration a saturated run would actually use
            "spark.io.compression.codec": "zstd",
        },
    )
    spark = build_session(
        opts, app_name="ssjoin-slice-probe", master=f"local[{cpus}]"
    )

    docs = _t_cpu(spark, sf_dir, "documents")
    n_docs = docs.count()

    decision: dict = {}
    auto_slices = dedup._auto_slices

    def recording_auto_slices(raw_rows):
        slices, wanted, breach = auto_slices(raw_rows)
        decision.update(
            raw_candidate_rows=int(raw_rows),
            slices=slices,
            slices_wanted=wanted,
            cap_bound=wanted > slices,
            budget_breach_bytes=breach,
        )
        return slices, wanted, breach

    dedup._auto_slices = recording_auto_slices

    scratch = tempfile.mkdtemp(prefix="ssjoin_probe_")
    try:
        def bounded_run(hi: int) -> tuple[float, int]:
            t0 = time.perf_counter()
            part = dedup.prefix_filter_pairs(
                docs,
                threshold=threshold,
                slices="auto",
                slice_dir=scratch,
                slice_range=(0, hi),
            )
            n_pairs = part.count()
            return time.perf_counter() - t0, n_pairs

        wall1, pairs1 = bounded_run(1)
        k = int(decision.get("slices", 1))
        if k > 2:
            wall2, pairs2 = bounded_run(2)
            marginal = max(wall2 - wall1, 0.1)
            prologue = max(wall1 - marginal, 0.0)
            extrapolated = prologue + k * marginal
        else:
            # small corpus: the bounded run was (nearly) the full run
            wall2 = marginal = prologue = None
            extrapolated = wall1
        print(
            json.dumps(
                {
                    "sf_dir": sf_dir,
                    "threshold": threshold,
                    "n_docs": n_docs,
                    "raw_candidate_rows": decision.get("raw_candidate_rows"),
                    "auto_slices": k,
                    "budget_bytes": dedup._SSJOIN_SLICE_BYTES,
                    # budget honesty (round 8): what the budget WANTED,
                    # whether the slice cap bound, and the projected
                    # per-slice scratch overage when it did
                    "slices_wanted": decision.get("slices_wanted"),
                    "cap_bound": decision.get("cap_bound"),
                    "max_slices": dedup._SSJOIN_MAX_SLICES,
                    "budget_breach_bytes": decision.get("budget_breach_bytes"),
                    "slice0_pairs": pairs1,
                    "wall_1slice_sec": round(wall1, 1),
                    "wall_2slice_sec": round(wall2, 1) if wall2 else None,
                    # prologue = shingle ranking + decision aggregation,
                    # paid once per run; marginal = one slice's cost
                    "prologue_sec": round(prologue, 1) if prologue is not None else None,
                    "marginal_slice_sec": round(marginal, 1) if marginal else None,
                    "extrapolated_full_sec": round(extrapolated, 1),
                }
            )
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
