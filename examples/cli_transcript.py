#!/usr/bin/env python
"""Generate TRANSCRIPTS.md: a CLI session mirroring the reference's
doc walkthroughs (docs/1-8 are datafusion-cli transcripts; this is the
same tour through `python -m sparkplans.cli`'s engine) — catalog
introspection, EXPLAIN shapes, sort/projection, filter pushdown,
aggregation, and joins over the same TPC-H-shaped tables.

    python examples/cli_transcript.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkplans import cli  # noqa: E402
from sparkplans.engine import Engine  # noqa: E402
from sparkplans.session import EngineOptions, build_session  # noqa: E402
from sparkplans.sources import TABLES, load_table  # noqa: E402

# (section header, reference doc, list of CLI lines)
SECTIONS = [
    ("Catalog introspection", "docs/1_cli_information_schema.md", [
        "\\d",
        "\\d nation",
        "SET spark.sql.shuffle.partitions = 8;",
    ]),
    ("Sort + projection", "docs/4_cli_read_plans_sort_projection.md", [
        "SELECT n_nationkey, n_name FROM nation "
        "ORDER BY n_nationkey LIMIT 5;",
        "EXPLAIN SELECT n_nationkey, n_name FROM nation "
        "ORDER BY n_nationkey;",
    ]),
    ("Filter pushdown", "docs/5_cli_read_plans_filter_repartition_coalesce.md", [
        "SELECT count(*) AS n FROM lineitem WHERE l_quantity > 45;",
        "EXPLAIN SELECT l_orderkey FROM lineitem WHERE l_quantity > 45;",
    ]),
    ("Aggregation (two-phase)", "docs/7_cli_read_plans_aggregation.md", [
        "SELECT l_returnflag, count(*) AS cnt FROM lineitem "
        "GROUP BY l_returnflag ORDER BY l_returnflag;",
        "EXPLAIN SELECT l_returnflag, count(*) FROM lineitem "
        "GROUP BY l_returnflag;",
    ]),
    ("EXPLAIN ANALYZE (runtime SQLMetrics)", "docs/3_cli_query_plans.md", [
        "\\analyze SELECT l_returnflag, count(*) AS cnt FROM lineitem "
        "GROUP BY l_returnflag;",
    ]),
    ("Joins (broadcast the dimension)", "docs/8_cli_read_plans_join.md", [
        "SELECT r_name, count(*) AS nations FROM nation "
        "JOIN region ON n_regionkey = r_regionkey "
        "GROUP BY r_name ORDER BY r_name;",
        "EXPLAIN SELECT n_name, r_name FROM nation "
        "JOIN region ON n_regionkey = r_regionkey;",
    ]),
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = build_session(
        EngineOptions(target_partitions=4),
        app_name="cli-transcript",
        master="local[4]",
    )
    engine = Engine(spark=spark)
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
        engine.create_external_table(t, f"{sf_dir}/{t}.parquet")

    out = io.StringIO()
    print("# TRANSCRIPTS — CLI walkthrough (reference docs/1-8 analog)", file=out)
    print(file=out)
    print(
        "Generated by `python examples/cli_transcript.py` over "
        f"`{sf_dir}` — the same tour the reference's datafusion-cli "
        "docs take, through `python -m sparkplans.cli`'s engine.  "
        "EXPLAIN output is Spark's physical plan: look for "
        "`PushedFilters` (docs/5), two `HashAggregate`s around the "
        "`Exchange` (docs/7), and `BroadcastHashJoin` (docs/8).",
        file=out,
    )
    for title, ref, lines in SECTIONS:
        print(f"\n## {title}\n", file=out)
        print(f"_Reference: `{ref}`_\n", file=out)
        print("```", file=out)
        for line in lines:
            print(f"sparkplans> {line}", file=out)
            if line.startswith("\\"):
                cli.run_command(engine, line, out=out)
            else:
                cli.run_sql(engine, line.rstrip(";"), out=out)
        print("```", file=out)

    # Lakehouse DML over a versioned table (beyond the reference):
    # copy-on-write DELETE/UPDATE, time travel, OPTIMIZE/VACUUM — all
    # as plain SQL through the same session.
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix="transcript_vt_")
    try:
        vt = engine.create_versioned_table("nation_vt", root)
        vt.append(load_table(spark, sf_dir, "nation"))
        engine.table_at("nation_vt")
        print("\n## Lakehouse DML (versioned table, beyond the reference)\n",
              file=out)
        print("_Copy-on-write DELETE/UPDATE, `VERSION AS OF` time "
              "travel, OPTIMIZE, VACUUM — via `sparkplans/table.py`._\n",
              file=out)
        print("```", file=out)
        for line in [
            "DELETE FROM nation_vt WHERE n_regionkey = 0;",
            "UPDATE nation_vt SET n_name = concat(n_name, ' (EU)') "
            "WHERE n_regionkey = 3;",
            "SELECT count(*) AS now_rows FROM nation_vt;",
            "SELECT count(*) AS v0_rows FROM nation_vt VERSION AS OF 0;",
            "OPTIMIZE nation_vt;",
            "VACUUM nation_vt;",
        ]:
            print(f"sparkplans> {line}", file=out)
            cli.run_sql(engine, line.rstrip(";"), out=out)
        print("```", file=out)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "TRANSCRIPTS.md"), "w") as f:
        f.write(out.getvalue())
    print("wrote TRANSCRIPTS.md")
    spark.stop()


if __name__ == "__main__":
    main()
