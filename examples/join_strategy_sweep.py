#!/usr/bin/env python
"""Registry-wide join-strategy audit.

For EVERY registered query, plan it twice — once under Spark's
default ``spark.sql.join.preferSortMergeJoin=true`` and once with the
flip ``false`` — and diff the join-strategy multiset.  A query whose
plan changes under the flip has a join whose strategy rests on a
session-wide switch instead of a per-join hint; the expected count is
zero.

For each changed query the report prints both plans' join nodes, so a
reviewer can see which join to pin and which side it builds.
Planning only — nothing executes.

    SPARK_GRAFT_SF_DIR=/path/to/sf0.01 python examples/join_strategy_sweep.py [out_path]
"""

from __future__ import annotations

import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkplans.session import EngineOptions, build_session  # noqa: E402
from sparkplans import plans  # noqa: E402
import sparkplans.queries as Q  # noqa: E402


def _join_nodes(df) -> list[tuple[str, str]]:
    return [
        (n, d)
        for n, d in plans.live_plan_nodes(df)
        if "Join" in n or n.startswith("CartesianProduct")
    ]


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        "r11",
        "join_strategy_sweep.txt",
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = build_session(
        EngineOptions(target_partitions=cpus),
        app_name="join-sweep",
        master=f"local[{cpus}]",
    )
    lines: list[str] = [
        f"-- join-strategy sweep @ {sf_dir}: preferSortMergeJoin=true (Spark default) vs false",
        "-- planning only (no execution); queries not listed under CHANGED plan identically either way",
        "",
    ]
    changed: list[str] = []
    errors: list[str] = []
    strategies_all: Counter = Counter()
    n_with_joins = 0
    names = sorted(Q.REGISTRY)
    for name in names:
        fn = Q.REGISTRY[name].fn
        per_variant: dict[str, list[tuple[str, str]]] = {}
        try:
            for v in ("true", "false"):
                spark.conf.set("spark.sql.join.preferSortMergeJoin", v)
                per_variant[v] = _join_nodes(fn(spark, sf_dir))
        except Exception as e:  # build-time failure (missing table etc.)
            errors.append(f"{name}: {type(e).__name__}: {e}")
            continue
        kinds = Counter(n for n, _ in per_variant["true"])
        strategies_all.update(kinds)
        if kinds:
            n_with_joins += 1
        if Counter(n for n, _ in per_variant["false"]) != kinds:
            changed.append(name)
            lines.append(f"CHANGED {name}:")
            for v in ("true", "false"):
                lines.append(f"  preferSMJ={v}:")
                for n, d in per_variant[v]:
                    lines.append(f"    {d[:200]}")
            lines.append("")
    spark.conf.unset("spark.sql.join.preferSortMergeJoin")
    lines.append(f"-- queries planned: {len(names) - len(errors)}/{len(names)}"
                 f" ({n_with_joins} contain joins)")
    lines.append(f"-- join strategies under Spark's default: "
                 + ", ".join(f"{k}={v}" for k, v in sorted(strategies_all.items())))
    lines.append(f"-- queries whose strategy changes under the flip: {len(changed)}"
                 + (": " + ", ".join(changed) if changed else ""))
    for e in errors:
        lines.append(f"-- plan error: {e}")
    with open(out_path, "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines[-6 - len(errors):]))
    print(f"wrote {out_path}")
    spark.stop()


if __name__ == "__main__":
    main()
