"""Readers for the benchmark/test tables.

The driver provides TPC-H-ish parquet tables plus ``events``,
``documents`` and ``embeddings`` at ``/root/testdata/sf*/``
(TESTDATA.md).  ``events.ts`` is a nanosecond parquet timestamp,
which Spark's vectorized reader rejects; we read it as long
(``spark.sql.legacy.parquet.nanosAsLong``) and convert to
``TIMESTAMP_NTZ`` at microsecond precision — matching how DuckDB (the
correctness oracle) surfaces the same column.

Schema memo: :func:`load_table` infers a table's parquet schema once
per process and then reads with ``spark.read.schema(s).parquet(path)``
— the reference declares a schema once at ``CREATE EXTERNAL TABLE``
(``docs/2_cli_create_tables.md:11-40``) and re-runs plans against it.
Inference costs one Spark job per read (about 0.1 s on four cores);
a read with the schema passed in launches none.

- Key: the absolute path; its listing as ``(name, size, mtime_ns)``
  per entry (one entry for a single-file table), so a rewritten or
  appended table is re-inferred; and the calling session's parquet
  inference confs (``_INFERENCE_CONFS``), so sessions that would infer
  different types never share an entry.
- Bound: at most ``_SCHEMA_MEMO_ENTRIES`` schemas, least recently used
  evicted first.
- Fallback: a directory with subdirectories (partitioned or nested),
  a path the local filesystem cannot list (a URI such as ``hdfs://``)
  and any other ``OSError`` while listing go through plain inference
  and are not memoized.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _ensure_nanos_conf(spark: SparkSession) -> None:
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass


_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)
_SCHEMA_MEMO_ENTRIES = 256
_schema_memo: OrderedDict[tuple, StructType] = OrderedDict()
_schema_memo_lock = threading.Lock()


def _listing(path: str) -> tuple | None:
    """``(name, size, mtime_ns)`` per entry of a flat table path, or
    None when the path must go through plain inference."""
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
        entries = []
        with os.scandir(path) as it:
            for e in it:
                if e.is_dir():
                    return None
                st = e.stat()
                entries.append((e.name, st.st_size, st.st_mtime_ns))
        return tuple(sorted(entries))
    except OSError:
        return None


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the inferred schema memoized
    (see the module docstring)."""
    listing = _listing(path)
    if listing is None:
        return spark.read.parquet(path)
    confs = tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS)
    key = (os.path.abspath(path), listing, confs)
    with _schema_memo_lock:
        schema = _schema_memo.get(key)
        if schema is not None:
            _schema_memo.move_to_end(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    with _schema_memo_lock:
        _schema_memo[key] = df.schema
        while len(_schema_memo) > _SCHEMA_MEMO_ENTRIES:
            _schema_memo.popitem(last=False)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table; normalizes the events timestamp."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        _ensure_nanos_conf(spark)
        df = _read_parquet(spark, path)
        if dict(df.dtypes).get("ts") == "bigint":
            # Integer division (DIV): float division would lose precision
            # on int64 epoch-nanos (> 2^53).  Floor matches DuckDB's
            # ns->us truncation for positive epochs.
            df = df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz"),
            )
        return df
    return _read_parquet(spark, path)


def fan_out(spark: SparkSession, df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition a narrow scan up to the session's
    parallelism target — the Spark analog of DataFusion inserting
    ``RepartitionExec RoundRobinBatch(target_partitions)`` above a
    single-file scan (reference docs/5_cli_read_plans_filter_
    repartition_coalesce.md:18-44): a small file arrives as ONE scan
    partition, and any CPU-heavy per-row stage above it (shingling,
    hashing, vector math) would otherwise run on one core.

    No-op when the scan is already parallel enough — at 100 TB the
    input spans thousands of splits and this helper adds nothing; it
    only fans out the small-file case.  Only use above per-row
    compute that dwarfs the (tiny) round-robin exchange; never on
    scan-light aggregations, and never where partition-local order
    matters (Spark round-robin does not preserve it)."""
    n = min_partitions or spark.sparkContext.defaultParallelism
    # File count is a cheap (driver-side, no plan conversion) proxy for
    # scan parallelism: few input files => few scan partitions.  A
    # single LARGE file is already byte-range-split by Spark, so the
    # repartition this triggers is redundant-but-harmless (one small
    # round-robin exchange); converting to .rdd to count true scan
    # partitions costs ~1s of plan translation per call, which would
    # dwarf the work being parallelized.
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files >= n:
        return df
    return df.repartition(n)


def incremental_files(
    spark: SparkSession,
    path: str,
    state_file: str,
    format: str = "parquet",
) -> tuple[DataFrame | None, Callable[[], None]]:
    """Batch-incremental reads: return a DataFrame over ONLY the files
    under ``path`` not yet recorded in ``state_file``, plus a
    ``commit()`` that records them after a successful run.

    The non-streaming half of exactly-once ingestion (the streaming
    half is the checkpointed sink): re-running after a crash before
    ``commit()`` reprocesses the same new files; after it, nothing.
    Returns ``(None, commit)`` when there are no new files.  State is
    one filename per line — trivially inspectable and mergeable."""
    import glob as _glob

    ext = {"parquet": ".parquet", "csv": ".csv", "json": ".json"}.get(format, "")
    present = sorted(
        f for f in _glob.glob(os.path.join(path, "*"))
        if os.path.isfile(f) and (not ext or f.endswith(ext))
    )
    seen: set[str] = set()
    if os.path.exists(state_file):
        with open(state_file) as fh:
            seen = {line.strip() for line in fh if line.strip()}
    new = [f for f in present if f not in seen]

    def commit() -> None:
        os.makedirs(os.path.dirname(os.path.abspath(state_file)), exist_ok=True)
        with open(state_file, "a") as fh:
            for f in new:
                fh.write(f + "\n")

    if not new:
        return None, commit
    return spark.read.format(format).load(new), commit
