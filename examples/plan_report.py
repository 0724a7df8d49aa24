#!/usr/bin/env python
"""Generate PLANS.md: the structural plan audit for every registered
query — exchange count (the engine's unit of cost, SCALE.md), join
strategies, python stages, broadcasts.  The reference asserts plan
shape in golden snapshots; this is the same evidence, library-wide.

    python examples/plan_report.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkplans import plans
from sparkplans.session import EngineOptions, build_session
import sparkplans.queries as Q


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = build_session(
        EngineOptions(target_partitions=8), app_name="plan-report", master="local[8]"
    )
    rows = []
    for name in sorted(Q.REGISTRY):
        df = Q.REGISTRY[name].fn(spark, sf_dir)
        a = plans.audit(df)
        rows.append(
            (
                name,
                a["exchanges"],
                a["broadcasts"],
                a["sorts"],
                a["python_stages"],
                ",".join(sorted(set(a["join_strategies"]))) or "-",
            )
        )
    out = [
        "# PLANS — structural audit of every registered query",
        "",
        f"Generated by `examples/plan_report.py` at `{sf_dir}` "
        "(pre-AQE physical plans; broadcasts are not exchanges).",
        "Each query declares its exchange budget where it is registered",
        "(`exchanges=` in `sparkplans/queries/`, checked by",
        "`tests/test_shuffle_budgets.py`).  `python` counts Python exec",
        "nodes in the plan walk, cached build plans included (a Python",
        "stage inside a materialized cut is not visible); it is 0 by the",
        "no-Python-hot-path gate except",
        "for the queries registered `python=True`: "
        + ", ".join(f"`{n}`" for n in sorted(Q.REGISTRY) if Q.REGISTRY[n].python)
        + ".",
        "",
        "| query | exchanges | broadcasts | sorts | python | join strategies |",
        "|---|---|---|---|---|---|",
    ]
    for r in rows:
        out.append("| {} | {} | {} | {} | {} | {} |".format(*r))
    total = sum(r[1] for r in rows)
    out.append("")
    out.append(
        f"{len(rows)} queries, {total} total exchanges "
        f"({total / len(rows):.2f} avg), "
        f"{sum(1 for r in rows if r[4] == 0)} with zero Python stages."
    )
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote PLANS.md ({len(rows)} queries, {total} exchanges)")
    spark.stop()


if __name__ == "__main__":
    main()
