"""Seeded input generator for the benchmark.

Same schemas and distributions as ``examples/generate_sf.py`` for the
tables the workloads read (lineitem 6M*sf, events 1M*sf, documents
max(500, 50k*sf), embeddings max(500, 20k*sf); lineitem keys range
over orders 1.5M*sf, part 200k*sf and supplier 10k*sf, and event users
over a tenth of customer 150k*sf),
drawn the same way: every value is a hash of the row id and a salt,
reduced modulo its range.  The differences:

- every salt starts with the run's seed, so the same seed gives the
  same tables and another seed other tables of the same shape;
- the hashes are DuckDB's, evaluated in-process, and the rows are
  written with pyarrow under the schema Spark's generator would write.
  No Spark job runs, so a workload's set-up pays for its session, not
  for a JVM-side generator warming up;
- ``events.ts`` is stored in nanoseconds, as in the events files that
  ``streaming.stream_events`` is written for.

Each table is a directory ``<name>.parquet`` of parquet files, the
layout a ``local[4]`` Spark write leaves.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

DAY_US = 86400 * 1_000_000
EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z
EVENTS_BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
EVENTS_SPAN_US = 30 * DAY_US

i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
ts = pa.timestamp("us")
SCHEMAS = {
    "lineitem": [("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                 ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                 ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                 ("l_linestatus", s), ("l_shipdate", ts)],
    "events": [("event_id", i64), ("ts", pa.timestamp("ns")), ("user_id", i64),
               ("event_type", s), ("value", f64), ("props", s)],
    "documents": [("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)],
    "embeddings": [("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)],
}


def counts_for(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _list(values: list[str]) -> str:
    return "[" + ", ".join(f"'{v}'" for v in values) + "]"


class Generator:
    """SQL for each seeded table, over ``range`` row ids."""

    def __init__(self, sf: float, seed: int):
        self.n = counts_for(sf)
        self.seed = seed

    # -- seeded hash primitives ----------------------------------------

    def h(self, *cols: str, salt: str) -> str:
        return f"hash({', '.join(cols)}, '{self.seed}/{salt}')"

    def mod(self, col: str, salt: str, m: int) -> str:
        return f"({self.h(col, salt=salt)} % {m})::BIGINT"

    def uniform(self, col: str, salt: str) -> str:
        return f"({self.mod(col, salt, 1_000_000_000)} / 1e9)"

    def pick(self, col: str, salt: str, values: list[str]) -> str:
        return f"{_list(values)}[{self.mod(col, salt, len(values))} + 1]"

    def money(self, col: str, salt: str, lo: float, hi: float) -> str:
        return f"round({lo} + {self.uniform(col, salt)} * {hi - lo}, 2)"

    def day_us(self, col: str, salt: str, days: int, first_day: int) -> str:
        return f"({EPOCH_1995_US} + ({first_day} + {self.mod(col, salt, days)}) * {DAY_US})"

    # -- tables ---------------------------------------------------------

    def lineitem(self) -> str:
        return f"""SELECT {self.mod('id', 'lord', self.n['orders'])},
            {self.mod('id', 'lpart', self.n['part'])}, {self.mod('id', 'lsupp', self.n['supplier'])},
            {self.mod('id', 'lno', 7)} + 1, {self.mod('id', 'lqty', 50)} + 1,
            {self.money('id', 'lext', 900.0, 105000.0)}, {self.mod('id', 'ldisc', 11)} / 100,
            {self.mod('id', 'ltax', 9)} / 100, {self.pick('id', 'lrf', ['A', 'N', 'R'])},
            {self.pick('id', 'lls', ['F', 'O'])}, {self.day_us('id', 'lship', 2498, 1)}
            FROM (SELECT range AS id FROM range({self.n['lineitem']}))"""

    def events(self, count: int | None = None, first_id: int = 0) -> str:
        """Monotone-with-jitter timestamps over a fixed 30-day window.
        ``count``/``first_id`` cut a contiguous id range, so the ingest
        workload draws its micro-batches and appends from one
        distribution without overlapping ids."""
        total = self.n["events"]
        count = total if count is None else count
        step = max(EVENTS_SPAN_US // total, 1)
        users = max(self.n["customer"] // 10, 1)
        return f"""SELECT id, ({EVENTS_BASE_US} + id * {step} + {self.mod('id', 'ejit', step)}) * 1000,
            {self.mod('id', 'euser', users)}, {self.pick('id', 'etype', EVENT_TYPES)},
            round(-50.0 * ln(1.0 - {self.uniform('id', 'eval')}), 2),
            printf('{{"k": %d}}', {self.mod('id', 'ek', 100)})
            FROM (SELECT range AS id FROM range({first_id}, {first_id + count}))"""

    def documents(self) -> str:
        """Hash-chosen words from the 31-word vocab; ~0.2% of documents
        are exact duplicates of an earlier one."""
        is_dup = f"({self.mod('id', 'ddup', 500)} = 0 AND id % 503 != 0)"
        words = (
            f"list_transform(range(1, {self.mod('src', 'dlen', 90)} + 9), "
            f"k -> {_list(VOCAB)}[({self.h('src', 'k', salt='dword')} % {len(VOCAB)})::BIGINT + 1])"
        )
        roll = self.mod("src", "dlang", 100)
        lang = (f"CASE WHEN {roll} < 40 THEN 'en' WHEN {roll} < 55 THEN 'de' "
                f"WHEN {roll} < 70 THEN 'es' WHEN {roll} < 85 THEN 'fr' ELSE 'zh' END")
        return f"""SELECT id, text, lang, source, length(text) FROM (
            SELECT id, array_to_string({words}, ' ') AS text, {lang} AS lang,
                   'src' || {self.mod('id', 'dsrc', 20)} AS source
            FROM (SELECT id, CASE WHEN {is_dup} THEN id - id % 503 ELSE id END AS src
                  FROM (SELECT range AS id FROM range({self.n['documents']}))))"""

    def embeddings(self) -> str:
        """10 label clusters on the unit sphere: center(label) + noise,
        L2-normalized."""
        center = f"(({self.h('label', 'j', salt='ecenter')} % 2001)::DOUBLE - 1000) / 1000.0"
        noise = f"(({self.h('id', 'j', salt='enoise')} % 2001)::DOUBLE - 1000) / 1000.0"
        return f"""SELECT id, list_transform(raw, x -> (x / sqrt(list_sum(
                list_transform(raw, y -> y * y))))::FLOAT), label FROM (
            SELECT id, label, list_transform(range(64), j -> {center} + 0.25 * {noise}) AS raw
            FROM (SELECT id, {self.mod('id', 'elabel', 10)}::INTEGER AS label
                  FROM (SELECT range AS id FROM range({self.n['embeddings']}))))"""

    # -- output ---------------------------------------------------------

    def table(self, name: str, sql: str | None = None) -> pa.Table:
        """Rows of ``sql`` (default: the whole table) under its schema."""
        schema = pa.schema(SCHEMAS[name])
        con = duckdb.connect()
        try:
            rows = con.execute(sql or getattr(self, name)()).arrow()
        finally:
            con.close()
        return pa.Table.from_arrays(
            [col.cast(field.type) for col, field in zip(rows.columns, schema)], schema=schema
        )

    def write(self, tables: list[str], out: str, files: int = 4) -> dict[str, dict]:
        """Write ``tables`` as ``<out>/<name>.parquet/part-*.parquet``;
        returns rows and bytes per table."""
        record = {}
        for name in tables:
            path = os.path.join(out, f"{name}.parquet")
            write_parts(self.table(name), path, files)
            record[name] = {"rows": self.n[name], "bytes": tree_bytes(path)}
        return record


def write_parts(table: pa.Table, path: str, files: int) -> None:
    """``table`` as ``files`` parquet files of contiguous rows."""
    os.makedirs(path, exist_ok=True)
    per = -(-table.num_rows // files) or 1
    for k in range(files):
        pq.write_table(table.slice(k * per, per), os.path.join(path, f"part-{k:05d}.parquet"))


def tree_bytes(path: str) -> int:
    """Bytes of every regular file under ``path``."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for d, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in names)
    return total
