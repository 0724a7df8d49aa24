"""Interactive SQL CLI — the engine's face, mirroring the reference's
``datafusion-cli`` sessions (every reference doc is a CLI transcript:
docs/1-8).  Usage::

    python -m sparkplans.cli [--sf-dir /root/testdata/sf0.001]

Reads ``;``-terminated SQL from stdin (works piped or interactive) and
prints results in the same box-drawing table style as the reference's
transcripts.  Besides SQL (including ``SET key = value``, ``EXPLAIN``,
and everything Spark SQL accepts):

- ``\\d``            — list registered tables (information_schema view)
- ``\\d <table>``    — describe one table's columns
- ``\\analyze <sql>`` — EXPLAIN ANALYZE: execute and show per-operator
  runtime SQLMetrics (the reference's docs/3:69-80)
- ``\\timing``       — toggle per-query wall-clock reporting
- ``\\q``            — quit

On startup the TPC-H-shaped testdata tables are registered as temp
views so the reference's doc queries run verbatim-modulo-dialect.
"""

from __future__ import annotations

import sys
import time


def format_table(headers: list[str], rows: list[list], max_rows: int = 40) -> str:
    """datafusion-cli style box table::

        +----+-------+
        | id | name  |
        +----+-------+
        | 1  | alpha |
        +----+-------+
    """
    shown = rows[:max_rows]
    cells = [[("NULL" if v is None else str(v)) for v in r] for r in shown]
    widths = [len(h) for h in headers]
    for r in cells:
        for i, v in enumerate(r):
            widths[i] = max(widths[i], len(v))
    sep = "+" + "+".join("-" * (w + 2) for w in widths) + "+"
    out = [sep]
    out.append(
        "|" + "|".join(f" {h:<{w}} " for h, w in zip(headers, widths)) + "|"
    )
    out.append(sep)
    for r in cells:
        out.append(
            "|" + "|".join(f" {v:<{w}} " for v, w in zip(r, widths)) + "|"
        )
    out.append(sep)
    if len(rows) > max_rows:
        out.append(f"-- {len(rows) - max_rows} more row(s) not shown")
    return "\n".join(out)


def run_command(engine, line: str, out=sys.stdout) -> bool:
    """One backslash command; returns False on \\q.  Errors are
    reported, never propagated — the session must survive a typo'd
    table name."""
    parts = line.strip().split()
    cmd = parts[0]
    if cmd == "\\q":
        return False
    try:
        return _run_command_inner(engine, line, parts, cmd, out)
    except Exception as ex:  # noqa: BLE001
        first = str(ex).strip().splitlines()
        print(f"Error: {first[0] if first else ex}", file=out)
        return True


def _run_command_inner(engine, line, parts, cmd, out) -> bool:
    if cmd == "\\d" and len(parts) == 1:
        tables = engine.catalog.show_tables()
        print(
            format_table(
                ["table_name", "format", "num_files"],
                [[t["table_name"], t["format"], t["num_files"]] for t in tables],
            ),
            file=out,
        )
    elif cmd == "\\d":
        cols = engine.catalog.show_columns(parts[1])
        print(
            format_table(
                ["column_name", "data_type", "is_nullable"],
                [[c["column_name"], c["data_type"], c["is_nullable"]] for c in cols],
            ),
            file=out,
        )
    elif cmd == "\\analyze":
        # the reference's EXPLAIN ANALYZE (docs/3:69-80): execute and
        # show per-operator SQLMetrics
        sql = line.strip()[len("\\analyze"):].strip().rstrip(";")
        if not sql:
            print("usage: \\analyze <sql>", file=out)
            return True
        from sparkplans import plans as _plans

        try:
            print(_plans.explain_analyze(engine.sql(sql)), file=out)
        except Exception as ex:
            first = str(ex).strip().splitlines()
            print(f"Error: {first[0] if first else ex}", file=out)
    elif cmd == "\\timing":
        engine._cli_timing = not getattr(engine, "_cli_timing", False)
        state = "on" if engine._cli_timing else "off"
        print(f"timing is {state}", file=out)
    else:
        print(f"unknown command: {line.strip()}", file=out)
    return True


MAX_DISPLAY_ROWS = 40


def run_sql(engine, sql: str, out=sys.stdout) -> None:
    t0 = time.perf_counter()
    try:
        df = engine.sql(sql)
        # Only pull what the terminal will show (+1 sentinel to detect
        # truncation) — a bare `SELECT * FROM lineitem` must not pile
        # the whole result set into driver memory just to print 40 rows.
        rows = df.limit(MAX_DISPLAY_ROWS + 1).collect()
    except Exception as ex:  # show the error, keep the session alive
        first = str(ex).strip().splitlines()
        print(f"Error: {first[0] if first else ex}", file=out)
        return
    elapsed = time.perf_counter() - t0
    if df.columns == ["plan"] and len(rows) == 1:
        # EXPLAIN output: print the plan tree raw, as the reference's
        # CLI does, instead of boxing a multi-line cell
        print(rows[0][0], file=out)
        return
    truncated = len(rows) > MAX_DISPLAY_ROWS
    shown = rows[:MAX_DISPLAY_ROWS]
    print(
        format_table(
            df.columns, [list(r) for r in shown], max_rows=MAX_DISPLAY_ROWS
        ),
        file=out,
    )
    n = f"{MAX_DISPLAY_ROWS}+ (truncated)" if truncated else str(len(shown))
    if getattr(engine, "_cli_timing", False):
        print(f"{n} row(s) in {elapsed:.3f} s", file=out)
    else:
        print(f"{n} row(s)", file=out)


def repl(engine, stream=sys.stdin, out=sys.stdout) -> None:
    buf: list[str] = []
    interactive = hasattr(stream, "isatty") and stream.isatty()
    if interactive:
        print("sparkplans CLI — ';' terminates SQL, \\q quits", file=out)
    while True:
        if interactive:
            out.write("sparkplans> " if not buf else "          > ")
            out.flush()
        line = stream.readline()
        if not line:
            break
        stripped = line.strip()
        if not buf and stripped.startswith("\\"):
            if not run_command(engine, stripped, out=out):
                break
            continue
        if not stripped and not buf:
            continue
        buf.append(line)
        if stripped.endswith(";"):
            sql = "\n".join(buf).strip().rstrip(";")
            buf = []
            if sql:
                run_sql(engine, sql, out=out)


def main(argv: list[str] | None = None) -> None:
    import argparse

    p = argparse.ArgumentParser(description="sparkplans SQL CLI")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    p.add_argument("--cpus", type=int, default=4)
    args = p.parse_args(argv)

    from sparkplans.engine import Engine
    from sparkplans.session import EngineOptions, build_session
    from sparkplans.sources import TABLES, load_table

    spark = build_session(
        EngineOptions(target_partitions=args.cpus),
        app_name="sparkplans-cli",
        master=f"local[{args.cpus}]",
    )
    engine = Engine(spark=spark)
    for t in TABLES:
        try:
            load_table(spark, args.sf_dir, t).createOrReplaceTempView(t)
            engine.create_external_table(
                t, f"{args.sf_dir}/{t}.parquet"
            )
        except Exception:
            pass  # missing table in this sf-dir — skip
    repl(engine)
    spark.stop()


if __name__ == "__main__":
    main()
