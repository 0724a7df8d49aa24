"""Engine catalog: external tables with declared sort order.

Mirrors the reference's table model (``docs/2_cli_create_tables.md``,
``tests/setup_tables.rs:28-91``):

- external listing tables over a single file or a directory of files
  (CSV / Parquet / JSON), with schema inference;
- an optional declared sort order (``WITH ORDER``) stored as catalog
  metadata — Spark has no native equivalent for path tables;
- an optional one-partition-per-file read mode that preserves each
  file's sort order as an execution-partition property
  (``tests/setup_tables.rs:86-88``);
- in-memory tables via ``create_table`` + ``insert_into``
  (``docs/2:142-160``);
- introspection: ``show_tables`` / ``show_columns`` / ``describe``
  (the ``information_schema`` surface of ``docs/1``).

Scale note: one-partition-per-file unions K single-file reads; at 100
TB you'd keep ``partition_per_file=False`` (let Spark split by byte
range) unless the sort order is load-bearing, in which case files
should be written bucketed+sorted so the shuffle is elided by
bucketing instead.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass, field
from functools import reduce
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from sparkplans.ordering import SortKey, normalize_sort_keys


_EXTENSIONS = {"parquet": ".parquet", "csv": ".csv", "json": ".json", "orc": ".orc"}


@dataclass
class TableSpec:
    name: str
    path: str | None
    fmt: str = "parquet"
    sort_order: tuple[SortKey, ...] = ()
    has_header: bool = True
    partition_per_file: bool = False
    schema: StructType | None = None
    options: dict[str, str] = field(default_factory=dict)
    in_memory: bool = False
    target_partitions: int | None = None

    @property
    def files(self) -> list[str]:
        """Files backing the table (a single path, or dir listing)."""
        if self.path is None:
            return []
        if os.path.isdir(self.path):
            ext = _EXTENSIONS.get(self.fmt, "")
            return sorted(
                f
                for f in glob.glob(os.path.join(self.path, "*"))
                if os.path.isfile(f) and (not ext or f.endswith(ext))
            )
        return [self.path]


class Catalog:
    """Session-scoped table catalog with sort-order metadata."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._tables: dict[str, TableSpec] = {}

    # -- registration ---------------------------------------------------

    def create_external_table(
        self,
        name: str,
        path: str,
        format: str = "parquet",
        with_order: Any = None,
        partition_per_file: bool | None = None,
        schema: StructType | str | None = None,
        has_header: bool = True,
        target_partitions: int | None = None,
        **options: str,
    ) -> TableSpec:
        """``CREATE EXTERNAL TABLE name ... LOCATION path WITH ORDER (...)``.

        ``with_order`` declares that every file at ``path`` is sorted by
        the given keys — the engine trusts this, exactly as the
        reference does (``docs/2:17-23``), and plans around it.
        ``partition_per_file`` defaults to True when an order is
        declared over a directory (order is a per-file property).

        ``target_partitions`` is the PER-TABLE split knob of the
        reference's ``with_target_partitions(N)``
        (``tests/setup_tables.rs:42,68``): every read of THIS table
        fans out to exactly N partitions — independent of the
        session-wide ``target_partitions`` — via a round-robin
        repartition, the Spark analog of the ``RepartitionExec
        RoundRobinBatch(N)`` the reference inserts above the scan
        (``docs/5:18-44``).  Incompatible with a declared sort order:
        round-robin does not preserve per-partition order, so the
        combination is rejected rather than silently un-sorting."""
        fmt = format.lower()
        order = normalize_sort_keys(with_order)
        if partition_per_file is None:
            partition_per_file = bool(order) and os.path.isdir(path)
        if isinstance(schema, str):
            schema = StructType.fromDDL(schema)
        if target_partitions is not None:
            if target_partitions < 1:
                raise ValueError("target_partitions must be >= 1")
            if order:
                raise ValueError(
                    "target_partitions round-robin repartition would "
                    "destroy the declared WITH ORDER; drop one of them"
                )
        spec = TableSpec(
            name=name,
            path=path,
            fmt=fmt,
            sort_order=order,
            has_header=has_header,
            partition_per_file=partition_per_file,
            schema=schema,
            options=dict(options),
            target_partitions=target_partitions,
        )
        self._tables[name] = spec
        # Register as a temp view so plain spark.sql() sees it too.
        df = self.read(name)
        # A declared order over a column that doesn't exist would make
        # the sort-elision layer silently skip real sorts — fail now.
        missing = [k.col for k in order if k.col not in df.columns]
        if missing:
            del self._tables[name]
            raise ValueError(
                f"WITH ORDER columns not in table {name}: {missing} "
                f"(have {df.columns})"
            )
        df.createOrReplaceTempView(name)
        # Infer once, at CREATE time: later reads pass the schema in
        # and launch no inference job.
        if spec.schema is None:
            spec.schema = df.schema
        return spec

    def create_table(
        self, name: str, schema: StructType | str, rows: list | None = None
    ) -> TableSpec:
        """In-memory table (``CREATE TABLE`` + optional rows); no sort
        order allowed, matching ``docs/2:144``."""
        if isinstance(schema, str):
            schema = StructType.fromDDL(schema)
        df = self.spark.createDataFrame(rows or [], schema)
        df.createOrReplaceTempView(name)
        spec = TableSpec(name=name, path=None, fmt="memory", schema=schema, in_memory=True)
        self._tables[name] = spec
        return spec

    def insert_into(self, name: str, rows: list) -> None:
        """``INSERT INTO name VALUES ...`` for in-memory tables."""
        spec = self._tables[name]
        if not spec.in_memory:
            raise ValueError(f"{name} is an external table; insert not supported")
        old = self.spark.table(name)
        new = self.spark.createDataFrame(rows, old.schema)
        old.unionByName(new).createOrReplaceTempView(name)

    def drop(self, name: str) -> None:
        self._tables.pop(name, None)
        self.spark.catalog.dropTempView(name)

    # -- reads ----------------------------------------------------------

    def read(self, name: str) -> DataFrame:
        spec = self._tables[name]
        if spec.in_memory:
            df = self.spark.table(name)
        elif spec.partition_per_file and len(spec.files) > 1:
            df = self._read_per_file(spec)
        else:
            df = self._read_path(spec, spec.path)
        if spec.target_partitions is not None:
            # per-table RoundRobinBatch(N) — see create_external_table
            df = df.repartition(spec.target_partitions)
        return df

    def _reader(self, spec: TableSpec):
        reader = self.spark.read
        if spec.schema is not None:
            reader = reader.schema(spec.schema)
        if spec.fmt == "csv":
            reader = reader.option("header", str(spec.has_header).lower())
            if spec.schema is None:
                reader = reader.option("inferSchema", "true")
        for k, v in spec.options.items():
            reader = reader.option(k, v)
        return reader

    def _read_path(self, spec: TableSpec, path: str) -> DataFrame:
        reader = self._reader(spec)
        if spec.fmt == "parquet":
            return reader.parquet(path)
        if spec.fmt == "csv":
            return reader.csv(path)
        if spec.fmt == "json":
            return reader.json(path)
        return reader.format(spec.fmt).load(path)

    def _read_per_file(self, spec: TableSpec) -> DataFrame:
        """One execution partition per file, preserving per-file sort
        order (the reference's listing-table behaviour,
        ``tests/setup_tables.rs:86-88``).  Implemented as per-file
        reads unioned by name: union keeps each input's partitions
        intact, so K sorted files -> K sorted partitions with no
        shuffle and no interleaving."""
        # Infer schema once from the first file so all branches agree.
        spec2 = spec
        if spec.schema is None:
            spec2 = TableSpec(**{**spec.__dict__, "schema": self._read_path(spec, spec.files[0]).schema})
        dfs = [self._read_path(spec2, f) for f in spec2.files]
        return reduce(lambda a, b: a.unionByName(b), dfs)

    # -- file-level stats pruning ---------------------------------------

    def file_stats(self, name: str, col: str) -> list[dict]:
        """Per-file [min, max] of ``col`` from parquet footer metadata
        — the listing-table statistics the reference opts into with
        ``with_collect_stat(true)`` (``tests/setup_tables.rs:43,69``).
        Driver-side footer reads only; no data is scanned.  Files
        without usable stats report ``None`` bounds (callers must keep
        them)."""
        import pyarrow.parquet as pq

        spec = self._tables[name]
        out = []
        for f in spec.files:
            mn = mx = None
            rows = None
            usable = spec.fmt == "parquet"
            if usable:
                try:
                    md = pq.ParquetFile(f).metadata
                    rows = md.num_rows
                    idx = md.schema.names.index(col)
                    for rg in range(md.num_row_groups):
                        st = md.row_group(rg).column(idx).statistics
                        if st is None or not st.has_min_max:
                            mn = mx = None
                            break
                        mn = st.min if mn is None else min(mn, st.min)
                        mx = st.max if mx is None else max(mx, st.max)
                except Exception:
                    mn = mx = rows = None
            out.append({"file": f, "min": mn, "max": mx, "rows": rows})
        return out

    def prune_files(self, name: str, col: str, lo=None, hi=None) -> list[str]:
        """Files whose ``col`` range may intersect ``[lo, hi]`` (either
        bound may be None = unbounded).  Conservative: a file with
        missing stats is always kept — pruning can only skip files
        proven disjoint, exactly like the reference's
        ``pruning_predicate`` over min/max (``docs/5:97,108``), lifted
        from row-group level to whole files."""
        keep = []
        for s in self.file_stats(name, col):
            if s["rows"] == 0:
                continue  # empty file intersects nothing
            if s["min"] is None or s["max"] is None:
                keep.append(s["file"])
                continue
            if lo is not None and s["max"] < lo:
                continue
            if hi is not None and s["min"] > hi:
                continue
            keep.append(s["file"])
        return keep

    def read_range(self, name: str, col: str, lo=None, hi=None) -> DataFrame:
        """Range scan with file-level pruning: skip files disjoint from
        the predicate BEFORE Spark plans the scan (fewer tasks, fewer
        footer reads — at 100 TB a time-range query over a
        time-partitioned corpus schedules only the touched files), then
        apply the real filter for row-level correctness ("Still need
        filter for correctness", ``docs/5:94-111``).  Returns an empty
        frame with the right schema when everything prunes."""
        from pyspark.sql import functions as F

        spec = self._tables[name]
        files = self.prune_files(name, col, lo, hi)
        if not files:
            df = self.spark.createDataFrame([], spec.schema)
        elif spec.partition_per_file or len(files) < len(spec.files):
            dfs = [self._read_path(spec, f) for f in files]
            df = reduce(lambda a, b: a.unionByName(b), dfs)
        else:
            df = self.read(name)
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col(col) >= lo)
        if hi is not None:
            cond = cond & (F.col(col) <= hi)
        return df.filter(cond)

    # -- introspection (information_schema analog) ----------------------

    def table_spec(self, name: str) -> TableSpec:
        return self._tables[name]

    def sort_order(self, name: str) -> tuple[SortKey, ...]:
        spec = self._tables.get(name)
        return spec.sort_order if spec else ()

    def show_tables(self) -> list[dict]:
        return [
            {
                "table_name": s.name,
                "table_type": "MEMORY" if s.in_memory else "EXTERNAL",
                "format": s.fmt,
                "path": s.path,
                "sort_order": ", ".join(str(k) for k in s.sort_order),
                "num_files": len(s.files),
            }
            for s in self._tables.values()
        ]

    def show_columns(self, name: str) -> list[dict]:
        df = self.read(name)
        return [
            {
                "table_name": name,
                "column_name": f.name,
                "data_type": f.dataType.simpleString(),
                "is_nullable": "YES" if f.nullable else "NO",
            }
            for f in df.schema.fields
        ]

    def describe(self, name: str) -> list[dict]:
        return [
            {"column_name": c["column_name"], "data_type": c["data_type"], "is_nullable": c["is_nullable"]}
            for c in self.show_columns(name)
        ]


def _bucketed_spec_sort(bucket_cols, sort_cols):
    return normalize_sort_keys(list(sort_cols or bucket_cols))


def write_bucketed(
    self,
    df,
    name: str,
    buckets: int,
    bucket_cols,
    sort_cols=None,
    mode: str = "overwrite",
) -> TableSpec:
    """Write a managed bucketed(+sorted) table and register it.

    Bucketed managed tables are Spark's durable answer to the
    reference's pre-partitioned/pre-sorted file layouts (docs/7:162-177
    'split sorted files into N sorted groups').

    A table written ``bucketBy(N, k).sortBy(k)`` gives every reader:
    - hash distribution on k with NO exchange (joins/aggs on k skip
      the shuffle entirely — the reference's 'no RepartitionExec'
      golden, tests/opt_parallel_execution.rs:69-81);
    - per-bucket sorted files, so merge joins skip the sort when
      Spark can prove one file per bucket.
    At 100 TB co-bucketing the big fact tables on their join key is
    THE lever: it amortizes one write-time shuffle across every
    subsequent join/agg."""
    bucket_cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    sort_cols = (
        [sort_cols] if isinstance(sort_cols, str) else list(sort_cols or bucket_cols)
    )
    if mode == "overwrite":
        # drop a previous registration AND any orphaned warehouse dir
        # (e.g. left by an earlier session) — saveAsTable refuses to
        # reuse an existing unmanaged location.
        self.spark.sql(f"DROP TABLE IF EXISTS {name}")
        wh = self.spark.conf.get("spark.sql.warehouse.dir", "")
        loc = os.path.join(wh.removeprefix("file:"), name)
        if wh and os.path.isdir(loc):
            import shutil

            shutil.rmtree(loc, ignore_errors=True)
    writer = (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(buckets, *bucket_cols)
        .sortBy(*sort_cols)
    )
    writer.saveAsTable(name)
    spec = TableSpec(
        name=name,
        path=None,
        fmt="bucketed-parquet",
        sort_order=_bucketed_spec_sort(bucket_cols, sort_cols),
        in_memory=False,
        options={"buckets": str(buckets), "bucket_cols": ",".join(bucket_cols)},
    )
    self._tables[name] = spec
    return spec


Catalog.write_bucketed = write_bucketed


def analyze_table(self, name: str, columns: bool = True) -> None:
    """Collect table/column statistics for CBO — the reference's
    ``with_collect_stat(true)`` (tests/setup_tables.rs:43,69) and the
    ``aggregate_statistics`` physical rule.  Works on managed
    (bucketed) tables; temp views get runtime stats from AQE instead."""
    suffix = " FOR ALL COLUMNS" if columns else ""
    self.spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS{suffix}")


def peek_schema(self, name: str):
    """The reference's LIMIT-0 schema peek (docs/1:139-158)."""
    return self.read(name).limit(0).schema


Catalog.analyze_table = analyze_table
Catalog.peek_schema = peek_schema
